"""E1 end-to-end pipeline: scan -> flatten -> dedup -> upsert -> stats
(mirrors reference tests/test_integration.py:244-313, 449-578)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from usajobs_etl_service_spark.pipeline import JobPipeline, PipelineConfig
from usajobs_etl_service_spark.sources.rest_api import RateLimitedError, RestPageSource, RetryPolicy

from tests.test_rest_source import make_page, no_sleep, paged_transport


def _pipeline(spark, tmp_path, pages, table_path=None):
    src = RestPageSource(
        transport=paged_transport(pages), page_size=5, retry=RetryPolicy(sleep=no_sleep), sleep=no_sleep
    )
    table_path = table_path or str(tmp_path / "tbl")
    cfg = PipelineConfig(keyword="data", location=None, max_pages=20, table_path=table_path)
    return JobPipeline(spark, src, cfg)


def test_first_run_inserts_all(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 8), make_page(3, 5, 8)])
    m = p.run()
    assert m.status == "success"
    assert m.jobs_extracted == 8
    assert (m.inserted, m.updated) == (8, 0)
    assert m.api_calls == 2
    assert p.current_table().count() == 8


def test_second_run_updates_in_place(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 5)])
    p.run()
    created_before = {
        r["position_uri"]: r["created_at"] for r in p.current_table().select("position_uri", "created_at").collect()
    }
    # same URIs, changed titles -> all updates, count stable
    pages2 = [make_page(5, 0, 5)]
    for item in pages2[0]["SearchResult"]["SearchResultItems"]:
        item["MatchedObjectDescriptor"]["PositionTitle"] += " II"
    p2 = _pipeline(spark, tmp_path, pages2)
    m2 = p2.run()
    assert (m2.inserted, m2.updated) == (0, 5)
    tbl = p2.current_table()
    assert tbl.count() == 5
    assert tbl.filter(F.col("position_title").endswith(" II")).count() == 5
    created_after = {
        r["position_uri"]: r["created_at"] for r in tbl.select("position_uri", "created_at").collect()
    }
    assert created_after == created_before  # created_at preserved on update


def test_in_batch_dup_first_wins(spark, tmp_path):
    page = make_page(2, 0, 2)
    items = page["SearchResult"]["SearchResultItems"]
    items[1]["MatchedObjectDescriptor"]["PositionURI"] = items[0]["MatchedObjectDescriptor"]["PositionURI"]
    items[1]["MatchedObjectDescriptor"]["PositionTitle"] = "Shadowed Duplicate"
    p = _pipeline(spark, tmp_path, [page])
    m = p.run()
    assert m.jobs_extracted == 1
    row = p.current_table().first()
    assert row["position_title"] == "Data Engineer 0"  # first occurrence won


def test_statistics_readback(spark, tmp_path):
    p = _pipeline(spark, tmp_path, [make_page(4, 0, 4)])
    p.run()
    stats = p.statistics()
    assert stats["total_jobs"] == 4
    assert stats["unique_organizations"] == 4  # Department 0..3
    assert stats["jobs_today"] == 4


def test_failed_run_logged_not_raised(spark, tmp_path):
    calls = []

    def explode(params):
        calls.append(params)
        raise RateLimitedError("429")

    p = _pipeline(spark, tmp_path, [])
    p.source.transport = explode
    m = p.run()
    assert m.status == "success"  # rate-limit abort yields empty scan, not failure
    assert m.jobs_extracted == 0
    assert len(calls) == 1  # a 429 is neither retried nor skipped past
    assert m.api_calls == 1


def test_runs_remove_their_spool(spark, tmp_path, monkeypatch):
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    p = _pipeline(spark, tmp_path, [make_page(5, 0, 8), make_page(3, 5, 8)])
    for _ in range(2):
        assert p.run().status == "success"
    assert not list(scratch.glob("rest_spool_*"))
    assert p.current_table().count() == 8
    # a run that fails after the scan removes its spool too
    monkeypatch.setattr(JobPipeline, "_write_version", lambda self, df: 1 / 0)
    assert p.run().status == "failed"
    assert not list(scratch.glob("rest_spool_*"))
