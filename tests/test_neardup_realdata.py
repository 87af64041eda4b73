"""Near-dup recall on the real sf0.1 documents table, which contains
planted exact-duplicate groups: every md5-exact duplicate pair MUST be
recovered by MinHash LSH (est_jaccard = 1.0 pairs can't be missed —
identical signatures collide in every band)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions.text import fingerprint_md5
from usajobs_etl_service_spark.operators.neardup import minhash_near_dup_pairs
from usajobs_etl_service_spark.session import read_table

SF01 = "/root/testdata/sf0.1"


def test_minhash_recalls_all_exact_dups(spark):
    docs = read_table(spark, SF01, "documents")
    fp = docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
    dup_pairs = {
        (r["a"], r["b"])
        for r in fp.alias("x")
        .join(fp.alias("y"), on="fp")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    if not dup_pairs:
        pytest.skip("no planted exact dups at this sf")
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(docs, threshold=0.9, num_hashes=64, bands=16).collect()
    }
    missed = dup_pairs - found
    assert not missed, f"minhash missed exact-dup pairs: {sorted(missed)[:5]}"


def test_persisted_sig_pairs_match_inline(spark, tmp_path):
    """The build-once signature path (minhash_write -> load ->
    minhash_pairs_from_sigs, whose banded shuffle carries only ids and
    whose verify joins the signature table) must produce exactly the
    inline one-query path's pairs."""
    from usajobs_etl_service_spark.operators.neardup import (
        minhash_load,
        minhash_pairs_from_sigs,
        minhash_write,
    )

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    inline = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()
    }
    minhash_write(docs, str(tmp_path / "sigs"))
    sigs = minhash_load(spark, str(tmp_path / "sigs"))
    persisted = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_pairs_from_sigs(sigs, threshold=0.8).collect()
    }
    assert persisted == inline and inline
