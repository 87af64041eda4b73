"""S5 + P4/P5 + O1: the reference's analytical view surface as Spark SQL
views (reference ``init.sql:44-70``).

Views are logical: Catalyst inlines them into each consumer query, so the
30-day filter (P5) reaches the parquet scan as a pushed predicate and the
9/14-column projection (P4) prunes the read schema. At 100 TB the backing
table should be partitioned by ``to_date(created_at)`` so P5 becomes
partition pruning, not a full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.stats import summary_stats


def recent_job_postings(
    df: DataFrame, *, ts_col: str = "created_at", anchor_date: F.Column | None = None
) -> DataFrame:
    """``recent_job_postings`` view (reference init.sql:44-57): project the
    display columns, keep the trailing 30 days, newest first."""
    anchor = anchor_date if anchor_date is not None else F.current_date()
    keep = [
        c
        for c in [
            "id",
            "position_title",
            "position_location",
            "position_remuneration",
            "organization_name",
            "department_name",
            "job_category",
            "created_at",
            "updated_at",
        ]
        if c in df.columns
    ]
    return (
        df.filter(F.to_date(F.col(ts_col)) >= F.date_sub(anchor, 30))  # P5
        .select(*keep)  # P4
        .orderBy(F.col(ts_col).desc())
    )


def register_views(
    spark: SparkSession,
    job_postings: DataFrame,
    *,
    org_col: str = "organization_name",
    dept_col: str = "department_name",
    ts_col: str = "created_at",
) -> None:
    """Register ``job_postings``, ``recent_job_postings`` and
    ``job_statistics`` as temp views for the SQL surface (E2)."""
    job_postings.createOrReplaceTempView("job_postings")
    recent_job_postings(job_postings, ts_col=ts_col).createOrReplaceTempView("recent_job_postings")
    summary_stats(job_postings, org_col=org_col, dept_col=dept_col, ts_col=ts_col).createOrReplaceTempView(
        "job_statistics"
    )
