"""The optional-dependency lane (round-11 VERDICT #6): real-path tests
for the env-gated trio — psycopg2 (live PostgreSQL upsert, the
reference's actual sink), delta-spark (ACID MERGE backend), and the
media codecs (Pillow/soundfile — those live in test_multimodal.py,
marked ``gated`` there). Each test skip-reports loudly when its
dependency (or live endpoint) is absent, so this container shows
skips while a fully-provisioned host runs the real paths:

    python -m pytest -m gated tests/ -rs

Run the lane as its OWN pytest invocation: the delta test needs a
SparkSession built with the Delta SQL extension, which cannot be
retrofitted onto a JVM already started by the shared fixture.
"""

from __future__ import annotations

import os

import pytest


def test_delta_merge_import_error_is_actionable():
    """Runnable everywhere: without delta-spark the adapter must raise
    an ImportError that names the extra, not an AttributeError from a
    half-imported module."""
    pytest.importorskip("pyspark")
    try:
        import delta  # noqa: F401

        pytest.skip("delta-spark installed; the real-path test covers this")
    except ImportError:
        pass
    from usajobs_etl_service_spark.sinks.delta_merge import delta_merge_upsert

    with pytest.raises(ImportError, match=r"\[delta\]"):
        delta_merge_upsert("/tmp/nonexistent", None, ["k"])


@pytest.mark.gated
def test_pg_live_upsert_roundtrip():
    """Live-PG real path for sinks/jdbc.jdbc_upsert: insert, then a
    second batch that updates one key and inserts another; counts come
    from the RETURNING (xmax = 0) flags and the final table state is
    read back through psycopg2 itself."""
    psycopg2 = pytest.importorskip("psycopg2")
    dsn = os.environ.get("SPARK_GRAFT_PG_DSN")
    if not dsn:
        pytest.skip("set SPARK_GRAFT_PG_DSN=postgresql://... for the live-PG lane")
    from usajobs_etl_service_spark.session import get_spark
    from usajobs_etl_service_spark.sinks.jdbc import jdbc_upsert

    spark = get_spark("gated-pg")
    conn = psycopg2.connect(dsn)
    conn.autocommit = True
    cur = conn.cursor()
    cur.execute("DROP TABLE IF EXISTS gated_upsert_t")
    cur.execute(
        "CREATE TABLE gated_upsert_t (k text PRIMARY KEY, v bigint, "
        "created_at timestamptz DEFAULT now(), updated_at timestamptz DEFAULT now())"
    )
    try:
        df1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
        m1 = jdbc_upsert(df1, table="gated_upsert_t", key="k", dsn=dsn)
        assert m1 == {"inserted": 2, "updated": 0, "total": 2}
        df2 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v long")
        m2 = jdbc_upsert(df2, table="gated_upsert_t", key="k", dsn=dsn)
        assert m2 == {"inserted": 1, "updated": 1, "total": 2}
        cur.execute("SELECT k, v FROM gated_upsert_t ORDER BY k")
        assert cur.fetchall() == [("a", 1), ("b", 20), ("c", 3)]
    finally:
        cur.execute("DROP TABLE IF EXISTS gated_upsert_t")
        conn.close()


@pytest.mark.gated
def test_delta_merge_real_path(tmp_path):
    """Real Delta MERGE: write a base table, merge a batch carrying an
    in-batch duplicate (first-wins by seq must be resolved BEFORE the
    MERGE — Delta raises on multiple source matches otherwise), read
    the table back."""
    pytest.importorskip("delta")
    import delta
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("gated-delta")
        .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = delta.configure_spark_with_delta_pip(builder).getOrCreate()
    if "DeltaSparkSessionExtension" not in (
        spark.conf.get("spark.sql.extensions", "") or ""
    ):
        pytest.skip(
            "JVM session predates the Delta extension; run the gated lane standalone"
        )
    from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
    from usajobs_etl_service_spark.sinks.delta_merge import delta_merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long").write.format(
        "delta"
    ).save(path)
    batch = spark.createDataFrame(
        [("b", 20, 2), ("b", 21, 1), ("c", 3, 1)], "k string, v long, seq long"
    )
    batch = dedup_first_wins(batch, ["k"], "seq").drop("seq")
    delta_merge_upsert(path, batch, ["k"])
    got = sorted(
        tuple(r) for r in spark.read.format("delta").load(path).collect()
    )
    assert got == [("a", 1), ("b", 21), ("c", 3)]
