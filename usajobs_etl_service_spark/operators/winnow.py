"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
plagiarism-detector's algorithm).

Guarantee that makes winnowing different from MinHash/SimHash: any
shared substring of at least ``k + w - 1`` tokens between two documents
is DETECTED with certainty — each sliding window of ``w`` consecutive
k-gram hashes contributes its minimum, so a long-enough match forces at
least one identical selected fingerprint in both documents. MinHash
bounds the MISS PROBABILITY; winnowing bounds the miss LENGTH. That
makes it the right primitive for contiguous-overlap detection
(plagiarism, license-text reuse, boilerplate clusters), complementing
the set-similarity family (neardup.py) and the positional-span family
(substring_dedup.py, which finds the spans themselves; winnowing is the
cheap candidate-pair screen in front of such an alignment).

Spark-first shape:
- Fully ROW-WISE: tokens are exploded once, k-grams are built with
  ``lead()`` windows, and each sliding window's minimum is a window
  ``min`` over a ``rowsBetween(0, w-1)`` frame — every stage is plain
  JVM expression/window work, zero higher-order-function lambdas. The
  obvious all-expression form — ``transform(idx, i ->
  array_min(slice(__h, i, w)))`` over aliased token/hash arrays — is a
  trap twice over: CollapseProject inlines the whole
  tokenize->shingle->md5 chain into the per-index lambda (O(n^2)
  interpreted md5/regex per doc — measured 385 s for 5,000 ~54-token
  docs at sf0.1 in round 7), and even the linearized array form leaves
  the generator-inferred ``size(...) > 0`` filter re-deriving the full
  shingle transform per row in interpreted mode.
- Exchanges: ONE id-keyed window exchange (grams, counts and window
  minima all share it), the per-doc fingerprint dedup, the fp hot-key
  guard (window count — the exact `_cap_buckets` discipline every LSH
  path here uses; dropping ubiquitous fingerprints is ALSO what MOSS
  itself does to ignore boilerplate), and the fp equi-join + pair
  aggregate.
- Hashing is the repo-standard md5-prefix scheme, so the DuckDB oracle
  reproduces the identical fingerprint sets (q153).

At 100 TB: per-document fingerprint count is ~n_tokens/w on average
(the winnowing density bound 2/(w+1) per hash), so the exploded
posting table is a bounded fraction of the token stream; the cap
bounds every posting list, and the pair aggregate shuffles only
(id_a, id_b) longs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.text import _WS, normalized_text
from usajobs_etl_service_spark.operators.neardup import _cap_buckets


def _gram_hash(gram: Column) -> Column:
    """md5-prefix long of ``gram#win`` — engine-reproducible (the
    DuckDB oracle repeats the identical expression)."""
    return F.conv(
        F.substring(F.md5(F.concat(gram, F.lit("#win"))), 1, 8), 16, 10
    ).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """One row per selected fingerprint: ``(id, fp long)``, distinct
    per document.

    Selection: hash every word k-gram, slide a window of ``w``
    consecutive hashes, keep each window's minimum. Documents shorter
    than ``k`` tokens fall back to one whole-text gram (the
    shingles_from_tokens contract); documents with fewer than ``w``
    windows contribute the global minimum (the single window that
    exists is the whole hash array).

    Row-wise plan (module docstring has the why): posexplode tokens ->
    ``lead()``-window k-gram concat -> md5 per gram row -> window
    ``min`` over a ``rowsBetween(0, w-1)`` frame -> per-doc distinct.
    The frame CLIPS at the partition end, so the fewer-than-w-windows
    fallback (global minimum) needs no special case — the one surviving
    window start (gram position 0) sees exactly the grams that exist.
    The only wide ops are the id-keyed window exchange and the (id, fp)
    dedup — ~24 B per token of corpus, comparable to the posting
    explode downstream; nothing is quadratic and nothing is an
    interpreted lambda.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k/w must be >= 1, got {k}/{w}")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"), F.split(normalized_text(F.col(text_col)), _WS).alias("__t")
    )
    tok_rows = toks.select("id", F.posexplode("__t").alias("__p", "__tok"))
    part = Window.partitionBy("id")
    ordered = Window.partitionBy("id").orderBy("__p")
    # k-gram at token position p = this token + the next k-1; concat_ws
    # SKIPS the NULL leads past the end, so a doc with n < k tokens
    # yields its whole-text gram at p == 0 (the shingles_from_tokens
    # short-doc contract) and nothing elsewhere
    gram = F.concat_ws(
        " ", F.col("__tok"), *[F.lead("__tok", i).over(ordered) for i in range(1, k)]
    )
    n_tok = F.count(F.lit(1)).over(part)
    g_rows = (
        tok_rows.select(
            "id", "__p", gram.alias("__gram"), n_tok.alias("__n")
        )
        # valid gram starts: every full k-gram, or position 0 of a short doc
        .filter((F.col("__p") + k <= F.col("__n")) | ((F.col("__n") < k) & (F.col("__p") == 0)))
    )
    h_rows = g_rows.select("id", "__p", _gram_hash(F.col("__gram")).alias("__hv"))
    # sliding minima: window starts are gram positions 0..g-w (or the
    # single position 0 when g < w — the frame clips to what exists)
    g_cnt = F.count(F.lit(1)).over(part)
    win_min = F.min("__hv").over(ordered.rowsBetween(0, w - 1))
    fps = (
        h_rows.select(
            "id",
            F.row_number().over(ordered).alias("__gp"),
            g_cnt.alias("__g"),
            win_min.alias("fp"),
        )
        .filter(F.col("__gp") - 1 <= F.greatest(F.col("__g") - w, F.lit(0)))
        .select("id", "fp")
    )
    return fps.dropDuplicates(["id", "fp"])


def winnow_pairs_from_fps(
    fps: DataFrame,
    *,
    min_shared: int = 2,
    max_postings: int = 500,
    observation=None,
) -> DataFrame:
    """Candidate pairs from a fingerprint table (``winnow_fingerprints``
    output, columns id, fp) — the pairing half of
    ``winnow_candidate_pairs``. Band rows are (fp, id) longs only."""
    keyed = fps.select(F.lit(0).alias("band"), F.col("fp").alias("key"), "id")
    capped = _cap_buckets(
        keyed, max_postings, metric_name="winnow_fp_cap", observation=observation
    )
    # single consumption of the observed plan (an Observation node may
    # appear in ONE plan branch only — a self-join over `capped` would
    # embed it twice and the metrics silently never populate), and the
    # bounded posexplode+slice pair expansion instead of a second
    # fp-keyed exchange — the `_bucket_pairs` shape, ids only
    buckets = capped.groupBy("band", "key").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    lhs = buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
    pairs = lhs.select(
        "id_a",
        F.explode(F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))).alias("id_b"),
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("shared_fps")
    ).filter(F.col("shared_fps") >= min_shared)


def winnow_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int = 500,
    observation=None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` selected fingerprints:
    ``(id_a, id_b, shared_fps long)`` with ``id_a < id_b``.

    Fingerprints held by more than ``max_postings`` documents are
    dropped before the quadratic join — never silently (`_cap_buckets`
    observe counters); MOSS does the same to ignore boilerplate, so
    unlike the LSH caps this drop is part of the PUBLISHED recipe, not
    only a scale guard. Singleton fingerprints cannot pair and are
    dropped by the same pass.
    """
    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, w=w)
    return winnow_pairs_from_fps(
        fps, min_shared=min_shared, max_postings=max_postings, observation=observation
    )
