"""Output checks. Each returns a list of problems; empty means correct.

They run outside the timed region, once per operation (ETL) or once per
query per run (queries).
"""

from __future__ import annotations

import numpy as np


def expected_created_at(spark, batch):
    """Broadcastable frame of (uri, created_at) the base holds for the
    batch's updated keys: a merge must carry these over unchanged."""
    import pandas as pd

    from gen import URI_PREFIX, base_created_at

    keys = np.array(batch.updated_keys, dtype=np.int64)
    pdf = pd.DataFrame({
        "position_uri": [f"{URI_PREFIX}{k}" for k in keys],
        "__expected_created_at": pd.to_datetime(base_created_at(keys), unit="us", utc=True),
    })
    return spark.createDataFrame(pdf).cache()


def check_etl(metrics, stats: dict, table, expected, batch) -> list[str]:
    """ETL invariants of one ``run()`` + ``statistics()``:

    - the run succeeded and inserted/updated equal the generator's split;
    - post-merge rows = base + inserted, and ``statistics()`` agrees;
    - ``created_at`` is preserved on every updated key.
    """
    from pyspark.sql import functions as F

    problems = []
    if metrics.status != "success":
        problems.append(f"run status {metrics.status}: {metrics.errors}")
    if (metrics.inserted, metrics.updated) != (batch.expected_inserted, batch.expected_updated):
        problems.append(
            f"inserted/updated {metrics.inserted}/{metrics.updated} != "
            f"{batch.expected_inserted}/{batch.expected_updated}"
        )
    row = (
        table.join(F.broadcast(expected), "position_uri", "left")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.count("__expected_created_at").alias("matched"),
            F.count(F.when(F.col("created_at") != F.col("__expected_created_at"), 1)).alias("bad"),
        )
        .first()
    )
    want_rows = batch.base_rows + batch.expected_inserted
    if row["rows"] != want_rows:
        problems.append(f"table rows {row['rows']} != base + inserted {want_rows}")
    if stats.get("total_jobs") != row["rows"]:
        problems.append(f"statistics() total {stats.get('total_jobs')} != table rows {row['rows']}")
    if row["matched"] != batch.expected_updated:
        problems.append(f"{row['matched']} updated keys in table, expected {batch.expected_updated}")
    if row["bad"]:
        problems.append(f"created_at changed on {row['bad']} updated keys")
    return problems


def oracle_connection(sf_dir: str, tables: list[str]):
    import tempfile

    import duckdb

    con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(name: str, cols: list[str], rows: list[tuple], con, oracle_sql: dict) -> list[str]:
    """Compare one query's collected result with its DuckDB oracle, using
    the gate's own normalization (``tools.verify_oracle._norm_rows``:
    column-order and row-order insensitive, floats at 6 dp)."""
    from tools.verify_oracle import _norm_rows

    sql = oracle_sql.get(name)
    if sql is None:
        return [f"{name}: no oracle"]
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    sc, sr = _norm_rows(cols, rows)
    oc, orr = _norm_rows(ocols, orows)
    if sc != oc:
        return [f"{name}: columns {sc} != oracle {oc}"]
    if len(sr) != len(orr):
        return [f"{name}: {len(sr)} rows != oracle {len(orr)}"]
    for a, b in zip(sr, orr):
        if a != b:
            return [f"{name}: row {a!r} != oracle {b!r}"]
    return []
