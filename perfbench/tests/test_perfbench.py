"""The benchmark's own tests: deterministic inputs, output checks that
catch planted wrong results, and metric names in sync with
BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402


def test_posting_batch_is_deterministic():
    a = gen.PostingBatch(7, 1_200, 5_000, gen.DAILY_OVERLAP)
    b = gen.PostingBatch(7, 1_200, 5_000, gen.DAILY_OVERLAP)
    c = gen.PostingBatch(8, 1_200, 5_000, gen.DAILY_OVERLAP)
    assert json.dumps(a.pages) == json.dumps(b.pages)
    assert (a.expected_inserted, a.expected_updated) == (b.expected_inserted, b.expected_updated)
    assert json.dumps(a.pages) != json.dumps(c.pages)
    # the documented shape: 3 pages, 2% repeated keys, 1% invalid URIs
    assert len(a.pages) == 3
    uris = [m["PositionURI"] for m in a.descriptors]
    assert sum(not u.startswith("http") for u in uris) == 12
    valid = [u for u in uris if u.startswith("http")]
    assert len(valid) - len(set(valid)) == 24
    assert a.expected_inserted + a.expected_updated == len(set(valid))


def test_tables_and_base_are_deterministic(tmp_path):
    for run in ("a", "b"):
        gen.write_tables(3, 0.001, str(tmp_path / run / "tables"))
        gen.write_base(3, 3_000, str(tmp_path / run / "base"))
    for name in sorted(os.listdir(tmp_path / "a" / "tables")):
        assert pq.read_table(tmp_path / "a" / "tables" / name).equals(pq.read_table(tmp_path / "b" / "tables" / name))
    a = pq.read_table(tmp_path / "a" / "base" / gen.BASE_VERSION)
    b = pq.read_table(tmp_path / "b" / "base" / gen.BASE_VERSION)
    assert a.num_rows == 3_000 and a.equals(b)


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS


@pytest.fixture(scope="module")
def spark():
    from usajobs_etl_service_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]")
    yield s
    s.catalog.clearCache()


def test_etl_check_catches_a_merge_that_drops_created_at(spark, tmp_path, monkeypatch):
    import etl
    from checks import expected_created_at

    import usajobs_etl_service_spark.pipeline as pipeline

    monkeypatch.setattr(etl, "BASE_ROWS", 4_000)
    monkeypatch.setattr(etl, "BATCH_POSTINGS", 1_000)
    wl = etl.EtlDaily(str(tmp_path / "work"), str(tmp_path / "cache"), seed=5)
    wl.attach(spark)
    (wall, cpu), problems, facts = wl.operation()
    assert problems == [] and wall > 0 and cpu > 0
    wl.cleanup(facts)

    merge = pipeline.merge_upsert

    def merge_dropping_created_at(base, batch, key_cols, **kw):
        kw.pop("preserve_cols", None)
        return merge(base, batch, key_cols, **kw)

    monkeypatch.setattr(pipeline, "merge_upsert", merge_dropping_created_at)
    _, problems, facts = wl.operation()
    assert any("created_at changed" in p for p in problems), problems
    wl.cleanup(facts)
    assert expected_created_at(spark, wl.batch).count() == wl.batch.expected_updated


def test_query_check_catches_one_changed_row(spark, tmp_path):
    import __spark_entry__ as entrymod
    from checks import check_query, oracle_connection
    from queries import TABLES

    sf_dir = str(tmp_path / "tables")
    gen.write_tables(4, 0.001, sf_dir)
    con = oracle_connection(sf_dir, TABLES)
    oracle = entrymod.oracle_sql()
    df = entrymod.queries()["q03_group_counts"](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    assert check_query("q03_group_counts", df.columns, rows, con, oracle) == []
    planted = list(rows)
    planted[0] = planted[0][:-1] + (planted[0][-1] + 1,)
    problems = check_query("q03_group_counts", df.columns, planted, con, oracle)
    assert len(problems) == 1 and "oracle" in problems[0]
