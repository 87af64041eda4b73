"""Near-dup operators: MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine — planted near-duplicates must be found, distinct docs must not."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators import neardup as ND

WORDS = "the data engine spark shuffle partition join filter scan agg window sort merge hash key value row batch stream table".split()


def _doc(rng, n=60):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _docs_df(spark):
    rng = random.Random(7)
    a = _doc(rng)
    # near-dup of a: change 3 of 60 words
    a_words = a.split()
    for i in (5, 20, 40):
        a_words[i] = "changed%d" % i
    a_prime = " ".join(a_words)
    b = _doc(rng)
    c = _doc(rng)
    rows = [(0, a), (1, a_prime), (2, b), (3, c)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_pair(spark):
    df = _docs_df(spark)
    pairs = ND.minhash_near_dup_pairs(df, threshold=0.5, num_hashes=64, bands=16).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found
    assert (2, 3) not in found


def test_minhash_signature_deterministic(spark):
    df = _docs_df(spark)
    s1 = df.select(ND.minhash_signature(F.col("text"), 32).alias("s")).collect()
    s2 = df.select(ND.minhash_signature(F.col("text"), 32).alias("s")).collect()
    assert [r["s"] for r in s1] == [r["s"] for r in s2]


def test_simhash_finds_planted_pair(spark):
    df = _docs_df(spark)
    # identical docs -> hamming 0; near-dup should be small
    sigs = {r["doc_id"]: r["sig"] for r in df.select("doc_id", ND.simhash64(F.col("text")).alias("sig")).collect()}
    ham01 = bin(sigs[0] ^ sigs[1]).count("1")
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    assert ham01 < ham02
    pairs = ND.simhash_near_dup_pairs(df, max_hamming=max(ham01, 3))
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in found


def test_ngram_jaccard(spark):
    df = _docs_df(spark)
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ND.ngram_jaccard_pairs(df, pairs).collect()}
    assert out[(0, 1)] > 0.5  # 3/60 words changed
    assert out[(0, 2)] < 0.2


def test_embedding_near_dup_blocked(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], "x"),
        (1, [0.999, 0.01, 0.0], "x"),  # near-dup of 0, same block
        (2, [0.0, 1.0, 0.0], "x"),
        (3, [1.0, 0.0, 0.0], "y"),  # identical to 0 but different block -> not compared
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    pairs = ND.embedding_near_dup_pairs(df, block_col="label", threshold=0.95).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert found == {(0, 1)}


def test_minhash_rejects_indivisible_bands(spark):
    import pytest

    df = _docs_df(spark)
    with pytest.raises(ValueError, match="divisible"):
        ND.minhash_near_dup_pairs(df, num_hashes=64, bands=15)


def test_simhash_caps_tokens_per_doc(spark):
    # > 65535 tokens must not overflow the packed 16-bit counters; the
    # signature degrades to a (valid) prefix signature instead
    big = " ".join("tok%d" % (i % 50) for i in range(70000))
    df = spark.createDataFrame([(0, big), (1, "tok1 tok2 tok3")], "doc_id long, text string")
    sigs = {r["id"]: r["sig"] for r in ND.simhash_signatures_df(df, id_col="doc_id", text_col="text").collect()}
    assert len(sigs) == 2 and all(isinstance(v, int) for v in sigs.values())


def test_multi_resolution_banding_superset(spark):
    """Extra (looser) band configs only ever ADD verified pairs — the
    exact-similarity stage keeps precision — and the default config's
    results are unchanged."""
    df = _docs_df(spark)
    base = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in ND.minhash_near_dup_pairs(df, threshold=0.5, num_hashes=64, bands=16).collect()
    }
    multi = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in ND.minhash_near_dup_pairs(
            df, threshold=0.5, num_hashes=64, bands=16, extra_band_configs=[(32, 2)]
        ).collect()
    }
    assert set(base) <= set(multi)
    for k, v in base.items():
        assert multi[k] == v  # same signatures, same estimates
    assert all(v >= 0.5 for v in multi.values())
    assert (0, 1) in multi


def test_multi_resolution_rejects_overlong_config(spark):
    import pytest

    df = _docs_df(spark)
    with pytest.raises(ValueError, match="lanes"):
        ND.minhash_near_dup_pairs(df, num_hashes=64, bands=16, extra_band_configs=[(32, 4)])


def test_hot_template_bucket_completes_and_is_exact(spark):
    """The ADVICE OOM scenario: a template bucket at the max_bucket cap
    where every member pairs with every other. The bounded two-step
    expansion must complete (the old one-row flatten built the whole
    C(n,2) pair array with both signatures inside one GenerateExec row)
    and emit exactly C(n,2) near-identical pairs."""
    n = 300
    rows = [(i, f"the common boilerplate template text body repeated here marker {'x' if i < 0 else ''}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ND.minhash_near_dup_pairs(
        df, threshold=0.9, num_hashes=16, bands=4, max_bucket=n
    )
    assert pairs.count() == n * (n - 1) // 2


def test_srp_near_dup_finds_scaled_copies(spark):
    """Positive scaling preserves every hyperplane sign, so (v, 1.5v)
    collides in ALL bands — recall on such pairs is exactly 1.0, not
    probabilistic (the q82 oracle-checkability argument)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(40)]
    copies = [(i + 1000, [1.5 * x for x in v]) for i, v in base]
    df = spark.createDataFrame(base + copies, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ND.embedding_srp_near_dup_pairs(df, threshold=0.95, dim=16).collect()
    }
    assert pairs == {(i, i + 1000) for i in range(40)}


def test_srp_near_dup_finds_perturbed_neighbors(spark):
    """Near- (not exact-) duplicates: v + small noise, cosine ~0.99 —
    banding must recall nearly all of them (expected recall ~0.999/pair
    at the defaults; deterministic for a fixed seed)."""
    import numpy as np

    rng = np.random.default_rng(13)
    base = []
    planted = []
    for i in range(30):
        v = rng.normal(0, 1, 32)
        base.append((i, [float(x) for x in v]))
        w = v + rng.normal(0, 0.03, 32)  # cos ~0.999
        planted.append((i + 1000, [float(x) for x in w]))
    # distractors: unrelated vectors that must NOT pair with anything
    noise = [(i + 5000, [float(x) for x in rng.normal(0, 1, 32)]) for i in range(40)]
    df = spark.createDataFrame(base + planted + noise, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in ND.embedding_srp_near_dup_pairs(df, threshold=0.95, dim=32).collect()
    }
    want = {(i, i + 1000) for i in range(30)}
    assert len(got & want) >= 27  # >=90% recall on planted near-dups
    assert not (got - want), f"false pairs above threshold: {sorted(got - want)[:5]}"


def test_srp_multi_resolution_raises_recall_keeps_precision(spark):
    """extra_plane_configs (cosine-space multi-resolution banding,
    mirror of MinHash extra_band_configs): at cosine ~0.90 the default
    12-plane x 8-band scheme misses a deterministic ~quarter of planted
    pairs; adding a narrow 6-plane resolution lifts recall to ~1 while
    the exact-cosine verify keeps precision (threshold still binds).
    The multi-resolution output must be a superset of the single-
    resolution output — extra configs only ever ADD candidates."""
    import numpy as np

    rng = np.random.default_rng(17)
    a, b = 0.905, float(np.sqrt(1 - 0.905**2))
    base, planted = [], []
    for i in range(60):
        v = rng.normal(0, 1, 32)
        v /= np.linalg.norm(v)
        w = rng.normal(0, 1, 32)
        w -= (w @ v) * v
        w /= np.linalg.norm(w)
        base.append((i, [float(x) for x in v]))
        planted.append((i + 1000, [float(x) for x in (a * v + b * w)]))  # cos = 0.905
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, dim=32, n_planes=12)
    single = {
        (r["id_a"], r["id_b"])
        for r in ND.embedding_srp_near_dup_pairs(df, **kw).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in ND.embedding_srp_near_dup_pairs(df, extra_plane_configs=[6], **kw).collect()
    }
    want = {(i, i + 1000) for i in range(60)}
    assert single <= multi  # extras only add candidates
    assert len(multi & want) > len(single & want)  # measurably better recall
    assert len(multi & want) >= 57  # >=95% recall with the loose config
    assert not (multi - want), f"false pairs above threshold: {sorted(multi - want)[:5]}"


def test_srp_near_dup_hot_bucket_cap(spark):
    """max_bucket drops degenerate buckets instead of exploding them:
    500 identical vectors form one hot bucket per band; with the cap
    below 500 the operator returns no pairs (and finishes) rather than
    materializing 125k pairs per band."""
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(500)], "vec_id long, embedding array<double>"
    )
    got = ND.embedding_srp_near_dup_pairs(df, threshold=0.95, dim=4, max_bucket=100).count()
    assert got == 0


def test_srp_auto_planes_formula():
    assert ND.srp_auto_planes(100) == 12  # floor
    assert ND.srp_auto_planes(4_000) == 12
    assert ND.srp_auto_planes(40_000) == 14
    assert ND.srp_auto_planes(400_000) == 17
    assert ND.srp_auto_planes(4_000_000_000) == 30
    assert ND.srp_auto_planes(0) == 12  # degenerate inputs stay sane


def test_srp_dim_mismatch_raises(spark):
    """ADVICE r5 (medium): a caller-supplied dim that disagrees with the
    data must fail loudly — zip_with would NULL-pad every plane dot and
    the query would silently return zero pairs."""
    import pytest

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim mismatch"):
        ND.embedding_srp_near_dup_pairs(df, dim=64)
    # dim=None derives the width from the data instead: 4 identical
    # vectors -> all C(4,2)=6 pairs at cosine 1.0
    assert ND.embedding_srp_near_dup_pairs(df, dim=None, max_bucket=100).count() == 6


def test_srp_auto_planes_wide_code_still_finds_planted(spark):
    """A corpus-count hint widens the code (here 5M -> 21 planes); true
    near-dup recall must survive the widening (identical-sign pairs
    collide in every band regardless of width)."""
    import numpy as np

    rng = np.random.default_rng(13)
    rows = []
    for i in range(20):
        v = rng.normal(0, 1, 32)
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1000, [float(x) for x in (v * 1.5)]))  # same signs, cos 1.0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in ND.embedding_srp_near_dup_pairs(
            df, threshold=0.999, n_rows_hint=5_000_000
        ).collect()
    }
    assert {(i, i + 1000) for i in range(20)} <= got


def test_srp_cap_drop_counters_observable(spark):
    """The hot-bucket cap's recall cost is measured, not silent: 500
    identical vectors saturate one bucket per band (8 bands x 500 rows
    dropped) while a surviving near-dup pair keeps the output non-empty
    — the realistic cap-binds-but-query-returns case. (A query whose
    output AQE collapses to empty loses its CollectMetrics node — the
    documented _cap_buckets caveat — so an all-dropped corpus cannot
    assert counters without disabling AQE.)"""
    from pyspark.sql import Observation

    hot = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(500)]
    survivors = [(9001, [-1.0, 2.0, -3.0, 4.0]), (9002, [-1.0, 2.0, -3.0, 4.0])]
    df = spark.createDataFrame(hot + survivors, "vec_id long, embedding array<double>")
    obs = Observation("srp_drop")
    out = ND.embedding_srp_near_dup_pairs(
        df, threshold=0.95, dim=4, max_bucket=100, observation=obs
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(9001, 9002)}  # hot-bucket pairs dropped, survivor pair kept
    assert obs.get == {"dropped_rows": 8 * 500, "dropped_buckets": 8}


def test_minhash_cap_drop_counters_observable(spark):
    """Same counters on the MinHash path: 30 identical docs saturate
    every band's bucket (16 bands x 30 rows) past max_bucket=10; a
    distinct surviving dup pair keeps the output non-empty so the
    Observation populates under AQE."""
    from pyspark.sql import Observation

    hot = [(i, "same text for every doc in this corpus run") for i in range(30)]
    survivors = [
        (9001, "an entirely different surviving document about spark shuffles"),
        (9002, "an entirely different surviving document about spark shuffles"),
    ]
    df = spark.createDataFrame(hot + survivors, "doc_id long, text string")
    obs = Observation("mh_drop")
    out = ND.minhash_near_dup_pairs(
        df, threshold=0.5, num_hashes=64, bands=16, max_bucket=10, observation=obs
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(9001, 9002)}
    assert obs.get == {"dropped_rows": 16 * 30, "dropped_buckets": 16}


def test_simhash_recovers_saturated_buckets(spark):
    """An over-cap duplicate cluster (the r6 VERDICT's measured recall
    hole: saturated band buckets were dropped wholesale) must now come
    back CONNECTED: tier-1 re-banding splits diverse floods exactly,
    and the tier-2 sorted-neighborhood chunks emit identical-signature
    floods as chains, so downstream clustering recovers the clique.
    Drop counters must be structurally zero; recovery counters must
    show the cap engaged."""
    from pyspark.sql import Observation

    rng = random.Random(11)
    flood_text = _doc(rng)
    rows = [(i, flood_text) for i in range(40)]  # identical-sig flood >> max_bucket
    rows += [(100 + i, _doc(rng)) for i in range(20)]  # diverse noise
    df = spark.createDataFrame(rows, "doc_id long, text string")
    obs, robs = Observation(), Observation()
    pairs = ND.simhash_near_dup_pairs(
        df, max_hamming=3, max_bucket=8, sn_chunk=4, observation=obs, recovery_observation=robs
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    m = dict(obs.get)
    assert m["dropped_rows"] == 0 and m["dropped_buckets"] == 0
    assert m["recovered_rows"] >= 40 and m["recovered_buckets"] >= 1
    assert dict(robs.get)["sn_rows"] > 0  # identical sigs forced the SN tier
    # chain connectivity: union-find over emitted flood pairs -> 1 component
    parent = list(range(40))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        if a < 40 and b < 40:
            parent[find(a)] = find(b)
    assert len({find(i) for i in range(40)}) == 1


def test_simhash_recovery_noop_below_cap(spark):
    """With no saturation the recovery tiers are inert: output equals
    the planted-pair contract and recovery counters are zero."""
    from pyspark.sql import Observation

    df = _docs_df(spark)
    obs = Observation()
    pairs = ND.simhash_near_dup_pairs(df, max_hamming=3, observation=obs)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in found
    m = dict(obs.get)
    assert m["recovered_rows"] == 0 and m["recovered_buckets"] == 0


def test_containment_quote_inclusion_asymmetric(spark):
    """A quote (prefix) inside a longer article: containment 1.0 in
    the quote->article direction while Jaccard-style symmetric overlap
    is small — the pair Jaccard families miss by construction."""
    from usajobs_etl_service_spark.operators.neardup import containment_pairs

    words = [f"w{i}" for i in range(60)]
    article = " ".join(words)            # 60 tokens -> 53 grams
    quote = " ".join(words[:16])         # 16 tokens -> 9 grams, all in article
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, article), (2, quote), (3, other)], ["doc_id", "text"]
    )
    rows = containment_pairs(df, n=8, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"], r["n_common"]) == (1, 2, 9)
    assert r["containment_b"] == 1.0          # quote fully contained
    assert r["containment_a"] == round(9 / 53, 4)  # article barely overlaps


def test_containment_stop_gram_rule_counted(spark):
    """Grams over the df cap are dropped BEFORE pairing, with observe
    counters — a boilerplate gram shared by every doc can't quadratically
    pair the corpus, and denominators are kept-gram counts."""
    from pyspark.sql import Observation

    from usajobs_etl_service_spark.operators.neardup import containment_pairs

    boiler = " ".join(f"b{i}" for i in range(8))  # 1 shared 8-gram
    docs = [(i, boiler + f" tail{i} " + " ".join(f"x{i}_{j}" for j in range(10)))
            for i in range(5)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    obs = Observation("containment_stop")
    out = containment_pairs(df, n=8, threshold=0.9, max_gram_df=3, observation=obs)
    # AQE elides the CollectMetrics node on this (empty-output) plan —
    # the documented _cap_buckets caveat; measure with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert out.count() == 0  # only the boilerplate gram was shared
        got = dict(obs.get)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got["stop_grams_dropped"] == 1
    assert got["stop_gram_rows"] == 5


def test_containment_short_docs_never_pair(spark):
    from usajobs_etl_service_spark.operators.neardup import containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]  # < 8 tokens
    )
    assert containment_pairs(df, n=8, threshold=0.5).count() == 0
