"""Int8 embedding quantization (operators/quantize.py): error bound,
degenerate vectors, dequant round-trip, and the zero-shuffle plan."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.quantize import (
    dequantize_int8,
    quantization_error_report,
    quantize_embeddings_int8,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0.0, 0.5) for _ in range(16)]) for i in range(40)]
    rows.append((100, [0.0] * 16))  # zero vector
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_codes_match_python_reference_and_bounds(spark, vecs):
    got = {r["vec_id"]: r for r in quantize_embeddings_int8(vecs).collect()}
    for row in vecs.collect():
        vid, v = row["vec_id"], row["embedding"]
        scale = max(abs(x) for x in v) / 127.0
        want = (
            [0] * len(v)
            if scale == 0
            else [
                int(max(-127.0, min(127.0, math.floor(abs(x / scale) + 0.5) * (1 if x >= 0 else -1))))
                for x in v
            ]
        )
        assert list(got[vid]["qvec"]) == want, vid
        assert abs(got[vid]["scale"] - scale) < 1e-15
        assert all(-127 <= c <= 127 for c in got[vid]["qvec"])
    assert dict(quantize_embeddings_int8(vecs).dtypes)["qvec"] == "array<tinyint>"


def test_error_report_bounded_by_half_scale(spark, vecs):
    rows = quantization_error_report(vecs).collect()
    assert len(rows) == 41
    for r in rows:
        # worst-case quantization error is scale/2 (plus float noise)
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9, dict(r.asDict())
        assert r["mse"] <= (r["scale"] / 2) ** 2 + 1e-12
    zero = next(r for r in rows if r["vec_id"] == 100)
    assert (zero["scale"], zero["max_abs_err"], zero["mse"]) == (0.0, 0.0, 0.0)


def test_dequantize_roundtrip(spark, vecs):
    q = quantize_embeddings_int8(vecs)
    back = q.select("vec_id", dequantize_int8(q).alias("v2"))
    orig = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for r in back.collect():
        v, v2 = orig[r["vec_id"]], r["v2"]
        scale = max(abs(x) for x in v) / 127.0
        assert all(abs(a - b) <= scale / 2 + 1e-9 for a, b in zip(v, v2))


def test_null_embedding_flows_as_null(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    assert rows[2]["qvec"] is None and rows[2]["scale"] is None
    assert list(rows[1]["qvec"]) == [64, -127]


def test_report_plan_is_one_pass_no_shuffle(spark, vecs):
    """The whole quantize+report must live in the scan stage: zero
    Exchange (no join back on id, no aggregate shuffle)."""
    p = (
        quantization_error_report(vecs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p, p[:800]
    assert "Join" not in p, p[:800]


def test_int8_topk_overlaps_float_topk(spark):
    """The rescoring claim: quantized-store top-k agrees closely with
    the float top-k (int8 error ~scale/2 barely moves cosines)."""
    from usajobs_etl_service_spark.operators.similarity import topk_cosine
    from usajobs_etl_service_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in topk_cosine(emb.filter(F.col("vec_id") != 0), qvec, k=20).collect()}
    q = quantize_embeddings_int8(emb)
    deq = q.select("vec_id", dequantize_int8(q).alias("embedding"))
    dq = [float(x) for x in deq.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = {r["vec_id"] for r in topk_cosine(deq.filter(F.col("vec_id") != 0), dq, k=20).collect()}
    assert len(exact & got) >= 15, (sorted(exact), sorted(got))


def test_null_element_and_empty_vector_quantize_to_null(spark):
    """Round-9 review finding: greatest/least skip NULLs, so a NULL
    element used to quantize to full-scale +127 — silent corruption.
    The contract now: NULL/empty/NULL-element vectors yield NULL qvec,
    scale, and NULL report stats (never a fake zero)."""
    df = spark.createDataFrame(
        [
            (1, [1.0, None, -0.5]),
            (2, []),
            (3, None),
            (4, [1.0, -2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    for vid in (1, 2, 3):
        assert rows[vid]["qvec"] is None and rows[vid]["scale"] is None, vid
    assert list(rows[4]["qvec"]) == [64, -127]
    rep = {r["vec_id"]: r for r in quantization_error_report(df).collect()}
    for vid in (1, 2, 3):
        r = rep[vid]
        assert (r["scale"], r["max_abs_err"], r["mse"]) == (None, None, None), vid
    assert rep[4]["max_abs_err"] <= rep[4]["scale"] / 2 + 2e-8  # both rounded to 8dp


def test_nonfinite_elements_quantize_to_null(spark):
    """Round-10 review finding: a NaN element made scale NaN and forced
    EVERY code to the +127 clamp bound (greatest/least skip NaN like
    they skip NULL); an Inf element made scale Inf and every finite
    code 0. Both are now degenerate like NULL elements: NULL qvec,
    NULL scale, NULL report stats."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (1, [1.0, nan, -0.5]),
            (2, [1.0, inf]),
            (3, [1.0, -inf]),
            (4, [1.0, -2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    for vid in (1, 2, 3):
        assert rows[vid]["qvec"] is None and rows[vid]["scale"] is None, vid
    assert list(rows[4]["qvec"]) == [64, -127]
    rep = {r["vec_id"]: r for r in quantization_error_report(df).collect()}
    for vid in (1, 2, 3):
        r = rep[vid]
        assert (r["scale"], r["max_abs_err"], r["mse"]) == (None, None, None), vid


def test_store_roundtrip_equals_inline(spark, vecs, tmp_path):
    """quantize_write -> quantize_load returns exactly the inline
    quantization of the same corpus (id-renamed) — the store adds IO,
    never changes values."""
    from usajobs_etl_service_spark.operators.quantize import (
        quantize_load,
        quantize_write,
    )

    path = str(tmp_path / "store")
    quantize_write(vecs, path)
    got = sorted(
        (r["id"], tuple(r["qvec"]), r["scale"])
        for r in quantize_load(spark, path).collect()
    )
    want = sorted(
        (r["vec_id"], tuple(r["qvec"]), r["scale"])
        for r in quantize_embeddings_int8(vecs).collect()
    )
    assert got == want


def test_quantized_topk_probe_matches_dequantized_and_plans_clean(spark):
    """Asymmetric store probe (float query x int8 codes, shortlist +
    dequantized re-rank) selects the same ids as brute-force cosine
    over the fully dequantized store (cosine is scale-invariant under
    the per-vector scheme); the probe plan has no Exchange and no Join
    and shortlist < k is rejected."""
    import pytest as _pytest

    from usajobs_etl_service_spark.operators.quantize import quantized_topk_cosine
    from usajobs_etl_service_spark.operators.similarity import topk_cosine
    from usajobs_etl_service_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    q = quantize_embeddings_int8(corpus)
    store = q.select(F.col("vec_id").alias("id"), "qvec", "scale")
    got = quantized_topk_cosine(store, qvec, k=20, shortlist=100)
    deq = q.select("vec_id", dequantize_int8(q).alias("embedding"))
    want = topk_cosine(deq, qvec, k=20)
    assert [r["id"] for r in got.collect()] == [r["vec_id"] for r in want.collect()]
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Join" not in p, p[:800]
    assert "TakeOrderedAndProject" in p
    with _pytest.raises(ValueError):
        quantized_topk_cosine(store, qvec, k=20, shortlist=5)


def test_quantized_topk_dot_code_stage_and_float_rerank(spark):
    """MIPS probe: (a) the single-stage code score equals brute-force
    dot over the dequantized corpus for the SAME ids (scale * codes
    fold distributes — the identity that makes a reconstruction
    rescore pointless); (b) rescore_with joins the shortlist back to
    the FLOAT corpus and final scores are the exact float dots; (c) a
    zero query is LEGAL for dot (scores 0), NaN/empty rejected, and
    shortlist without rescore_with (either way) is rejected."""
    import pytest as _pytest

    from usajobs_etl_service_spark.functions.vectors import dot
    from usajobs_etl_service_spark.operators.quantize import quantized_topk_dot
    from usajobs_etl_service_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    q = quantize_embeddings_int8(corpus)
    store = q.select(F.col("vec_id").alias("id"), "qvec", "scale")
    qlit = F.array(*[F.lit(x) for x in qvec])
    # (a) single-stage == dequantized brute force (identical values)
    got = quantized_topk_dot(store, qvec, k=20)
    deq = q.select(
        "vec_id", dequantize_int8(q).alias("dv")
    ).select("vec_id", F.round(dot(F.col("dv"), qlit), 4).alias("score"))
    want = deq.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(20)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Join" not in p, p[:800]
    # (b) float rerank: final scores are the EXACT float dots
    rer = quantized_topk_dot(store, qvec, k=10, shortlist=50, rescore_with=corpus)
    float_scores = {
        r["vec_id"]: r["score"]
        for r in corpus.select(
            "vec_id", F.round(dot(F.col("embedding").cast("array<double>"), qlit), 4).alias("score")
        ).collect()
    }
    rows = rer.collect()
    assert len(rows) == 10
    assert all(float_scores[r["id"]] == r["score"] for r in rows), rows
    # scores descend, id tiebreak
    assert [r["score"] for r in rows] == sorted((r["score"] for r in rows), reverse=True)
    # (c) validations
    zeros = quantized_topk_dot(store, [0.0] * len(qvec), k=5).collect()
    assert [r["score"] for r in zeros] == [0.0] * 5
    with _pytest.raises(ValueError, match="finite"):
        quantized_topk_dot(store, [float("nan")] * len(qvec), k=5)
    with _pytest.raises(ValueError, match="non-empty"):
        quantized_topk_dot(store, [], k=5)
    with _pytest.raises(ValueError, match="shortlist"):
        quantized_topk_dot(store, qvec, k=20, shortlist=3, rescore_with=corpus)
    with _pytest.raises(ValueError, match="go together"):
        quantized_topk_dot(store, qvec, k=20, shortlist=50)
    with _pytest.raises(ValueError, match="go together"):
        quantized_topk_dot(store, qvec, k=20, rescore_with=corpus)


def test_quantized_ivf_fullprobe_equals_flat_and_recall(spark):
    """IVF x int8 composite: (a) nprobe == C equals the flat
    quantized-store cosine ranking exactly (bucketing cannot change a
    full probe); (b) a partial probe keeps most of the true top-k
    (recall trade, test-asserted since no oracle can pin it); (c)
    un-quantizable rows keep their bucket but carry NULL codes and are
    skipped by the probe, never crashing it."""
    from usajobs_etl_service_spark.operators.quantize import (
        quantized_ivf_build,
        quantized_ivf_topk_cosine,
        quantized_topk_cosine,
    )
    from usajobs_etl_service_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    index, cents = quantized_ivf_build(corpus, n_centroids=8)
    assert set(index.columns) == {"id", "centroid_id", "qvec", "scale"}
    full = quantized_ivf_topk_cosine(index, cents, qvec, k=15, nprobe=8)
    flat = quantized_topk_cosine(
        quantize_embeddings_int8(corpus).select(
            F.col("vec_id").alias("id"), "qvec", "scale"
        ),
        qvec,
        k=15,
    )
    assert [tuple(r) for r in full.collect()] == [tuple(r) for r in flat.collect()]
    exact_ids = {r["id"] for r in flat.collect()}
    part = quantized_ivf_topk_cosine(index, cents, qvec, k=15, nprobe=4)
    got_ids = {r["id"] for r in part.collect()}
    assert len(got_ids & exact_ids) >= 9, (sorted(got_ids), sorted(exact_ids))
    # (c) a NULL-element vector flows through build and is probe-skipped
    bad = spark.createDataFrame(
        [(999_999, [1.0, None])], "vec_id long, embedding array<double>"
    )
    idx2, cents2 = quantized_ivf_build(
        corpus.unionByName(bad), n_centroids=4
    )
    row = idx2.filter(F.col("id") == 999_999).first()
    assert row["qvec"] is None and row["centroid_id"] is not None
    out = quantized_ivf_topk_cosine(idx2, cents2, qvec, k=5, nprobe=4)
    assert 999_999 not in {r["id"] for r in out.collect()}


def test_quantized_ivf_persists_and_prunes_partitions(spark, tmp_path):
    """The quantized index persists through the generic ivf_write/
    ivf_load contract (schema-agnostic: partitioned by centroid_id),
    and a probe over the PERSISTED index prunes non-probed buckets at
    PLANNING time — the isin filter must surface as a partition filter
    on the partitioned read, so (C - nprobe)/C of the index is never
    opened. Degenerate probe arguments (nprobe or k below 1) raise."""
    from usajobs_etl_service_spark.operators.quantize import (
        quantized_ivf_build,
        quantized_ivf_topk_cosine,
    )
    from usajobs_etl_service_spark.operators.similarity import ivf_load, ivf_write
    from usajobs_etl_service_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    index, cents = quantized_ivf_build(corpus, n_centroids=8)
    path = str(tmp_path / "qivf")
    ivf_write(index, cents, path)
    idx2, cents2 = ivf_load(spark, path)
    probe_mem = quantized_ivf_topk_cosine(index, cents, qvec, k=10, nprobe=3)
    probe_disk = quantized_ivf_topk_cosine(idx2, cents2, qvec, k=10, nprobe=3)
    assert [tuple(r) for r in probe_disk.collect()] == [
        tuple(r) for r in probe_mem.collect()
    ]
    plan = probe_disk._jdf.queryExecution().executedPlan().toString()
    # centroid_id must appear INSIDE the PartitionFilters bracket — the
    # plan always prints 'PartitionFilters: []' and a post-scan Filter
    # naming the column, so two independent substring checks would stay
    # green with pruning silently broken (round-10 review finding)
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan[:1500]
    # nprobe < 1 and k < 1 raise instead of silently probing nothing
    with pytest.raises(ValueError, match="nprobe"):
        quantized_ivf_topk_cosine(idx2, cents2, qvec, k=5, nprobe=0)
    with pytest.raises(ValueError, match="k must"):
        quantized_ivf_topk_cosine(idx2, cents2, qvec, k=0)
