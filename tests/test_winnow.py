"""Winnowing fingerprints (operators/winnow.py): the
Schleimer-Wilkerson-Aiken detection guarantee, fallbacks, and the
ubiquitous-fingerprint cap."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.winnow import (
    winnow_candidate_pairs,
    winnow_fingerprints,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _words(rng, n, pool):
    return " ".join(rng.choice(pool) for _ in range(n))


POOL = [f"w{i}" for i in range(500)]


def test_shared_run_of_k_plus_w_minus_1_always_detected(spark):
    # guarantee: a shared run of >= k + w - 1 tokens (4 + 4 - 1 = 7)
    # forces at least one common selected fingerprint
    rng = random.Random(7)
    shared = _words(rng, 7, POOL)
    rows = [
        (1, _words(rng, 40, POOL) + " " + shared + " " + _words(rng, 40, POOL)),
        (2, _words(rng, 35, POOL) + " " + shared + " " + _words(rng, 35, POOL)),
    ]
    fps = winnow_fingerprints(_docs(spark, rows), k=4, w=4)
    a = {r["fp"] for r in fps.filter(F.col("id") == 1).collect()}
    b = {r["fp"] for r in fps.filter(F.col("id") == 2).collect()}
    assert a & b


def test_identical_docs_share_all_fingerprints(spark):
    rng = random.Random(11)
    text = _words(rng, 60, POOL)
    fps = winnow_fingerprints(_docs(spark, [(1, text), (2, text)]), k=4, w=4)
    a = sorted(r["fp"] for r in fps.filter(F.col("id") == 1).collect())
    b = sorted(r["fp"] for r in fps.filter(F.col("id") == 2).collect())
    assert a == b and len(a) >= 1


def test_density_bound(spark):
    # selected fingerprints <= number of windows (n_grams - w + 1) and
    # far fewer in expectation (the 2/(w+1) winnowing density)
    rng = random.Random(13)
    text = _words(rng, 200, POOL)
    fps = winnow_fingerprints(_docs(spark, [(1, text)]), k=4, w=4)
    n_fp = fps.count()
    n_windows = 200 - 4 + 1 - 3  # n_grams - (w - 1)
    assert 1 <= n_fp <= n_windows


def test_short_doc_fallback_still_pairs_with_copy(spark):
    rows = [(1, "one two"), (2, "one two")]
    pairs = winnow_candidate_pairs(_docs(spark, rows), k=4, w=4, min_shared=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_ubiquitous_fingerprint_dropped_and_counted(spark):
    # every doc contains the same boilerplate; with max_postings below
    # the doc count the boilerplate fingerprints are dropped (counted),
    # so unrelated docs produce NO pairs
    rng = random.Random(17)
    boiler = _words(rng, 12, POOL)
    rows = [(i, boiler + " " + _words(rng, 30, POOL)) for i in range(10)]
    obs = Observation()
    pairs = winnow_candidate_pairs(
        _docs(spark, rows), k=4, w=4, min_shared=1, max_postings=5, observation=obs
    )
    got = pairs.collect()
    assert got == []
    # AQE caveat (_cap_buckets docstring): empty result may elide the
    # metrics node; re-check with AQE off
    try:
        metrics = dict(obs.get)
        if metrics.get("dropped_rows") is None:
            raise ValueError("metrics elided")
    except Exception:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            obs2 = Observation()
            winnow_candidate_pairs(
                _docs(spark, rows), k=4, w=4, min_shared=1, max_postings=5,
                observation=obs2,
            ).collect()
            metrics = dict(obs2.get)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert metrics["dropped_rows"] > 0 and metrics["dropped_buckets"] > 0


def test_disjoint_docs_no_pairs(spark):
    rows = [(1, " ".join(f"a{i}" for i in range(30))),
            (2, " ".join(f"b{i}" for i in range(30)))]
    assert winnow_candidate_pairs(_docs(spark, rows), min_shared=1).collect() == []


def test_bad_params_raise(spark):
    with pytest.raises(ValueError):
        winnow_fingerprints(_docs(spark, [(1, "a")]), k=0, w=4)


def test_no_interpreted_lambda_and_single_tokenize_in_plan(spark):
    """Round-7 regression guard: the 385 s q153 defect was
    CollapseProject inlining the tokenize->shingle->md5 chain into a
    per-window HOF lambda (O(n^2) interpreted work per doc). The
    row-wise rewrite must keep the executed plan free of HOF lambdas
    entirely and derive the tokenizer expression exactly once (the
    generator-inferred size()>0 filter re-running regexp_replace per
    row was the residual 2x)."""
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(20)]
    p = (
        winnow_fingerprints(_docs(spark, rows), k=4, w=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "lambdafunction" not in p, p[:800]
    # the tokenizer may be re-derived by the generator-inferred
    # size()>0 / isnotnull filter (2 extra evals PER DOC — constant),
    # but never inside a per-gram or per-window construct: all
    # occurrences must sit at or below the Generate node's subtree
    assert p.count("regexp_replace") <= 3, p[:800]
    gen_pos = p.index("Generate posexplode")
    assert p.count("regexp_replace", 0, gen_pos) == 0, p[:800]


def test_null_text_yields_no_fingerprints_empty_text_one(spark):
    """Contract: NULL text contributes nothing (no phantom
    empty-string fingerprint); empty text degenerates to the single
    whole-text gram (the short-doc fallback)."""
    df = _docs(spark, [(1, None), (2, ""), (3, "a b c d e f")])
    got = {r["id"] for r in winnow_fingerprints(df).collect()}
    assert 1 not in got and {2, 3} <= got


def test_winnow_matches_python_reference_on_random_docs(spark):
    """Property check of the round-8 row-wise rewrite: fingerprint sets
    equal a direct Python transcription of Schleimer-Wilkerson-Aiken
    selection (normalize -> k-grams -> md5-prefix hash -> sliding
    window min -> distinct) over docs spanning every regime: empty,
    shorter than k, fewer than w windows, long, duplicated tokens."""
    import hashlib
    import re as _re

    k = w = 4
    rng = random.Random(23)
    docs = [
        (0, ""),
        (1, "one"),
        (2, "a b c d"),            # exactly k tokens -> 1 gram, 1 window
        (3, "a b c d e f"),        # 3 grams < w windows -> global min
        (4, " ".join(["dup"] * 30)),
        (5, "  Mixed   CASE\ttokens  here  " + _words(rng, 50, POOL)),
    ] + [(10 + i, _words(rng, rng.randint(1, 120), POOL)) for i in range(20)]

    def ref_fps(text):
        toks = _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        if len(toks) >= k:
            grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        else:
            grams = [" ".join(toks)]
        hs = [
            int(hashlib.md5((g + "#win").encode()).hexdigest()[:8], 16)
            for g in grams
        ]
        n_win = max(len(hs) - w + 1, 1)
        return {min(hs[i : i + w]) for i in range(n_win)}

    got: dict = {}
    for r in winnow_fingerprints(_docs(spark, docs), k=k, w=w).collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == ref_fps(text), (doc_id, text[:40])
