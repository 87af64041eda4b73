"""S4 — nested JSON document ingest + flatten (SURVEY.md §2.1 S4, §2.2
P1-P3; reference ``etl/etl.py:224-297``).

Pipeline shape: ``from_json`` (explicit schema — no inference scan) ->
``posexplode`` of the items array -> dotted-path projection through the
scalar transform library -> validation filter. All codegen'd; one narrow
stage, no shuffle. Malformed documents parse to NULL structs and are
dropped by the validation filter (P3 tolerance parity).

``ingest_seq`` (page * page_size + position) gives the deterministic
first-wins order the dedup operator (A6) needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usajobs_etl_service_spark.functions import transforms as X
from usajobs_etl_service_spark.schemas import API_RESPONSE_SCHEMA

# API page clamp (reference etl.py:193), shared by both sources: ingest_seq
# is a first-wins order only while no page holds more than PAGE_SIZE items
PAGE_SIZE = 500


def parse_api_pages(raw: DataFrame, json_col: str = "payload", page_col: str = "page") -> DataFrame:
    """Parse raw page payloads (one JSON string per API page) into typed
    structs. PERMISSIVE parity: a malformed payload yields a NULL struct
    (dropped downstream), not a failed job."""
    return raw.withColumn("doc", F.from_json(F.col(json_col), API_RESPONSE_SCHEMA)).select(
        F.col(page_col).alias("page"), "doc"
    )


def flatten_postings(pages: DataFrame) -> DataFrame:
    """Explode ``SearchResult.SearchResultItems`` and render the canonical
    11-field record (P1 projection + F1-F7 transforms + P2 filter)."""
    items = pages.select(
        "page",
        F.posexplode_outer("doc.SearchResult.SearchResultItems").alias("pos", "item"),
    ).select("page", "pos", F.col("item.MatchedObjectDescriptor").alias("m"))

    m: Column = F.col("m")
    flat = items.select(
        X.clean_str(F.coalesce(m.getField("PositionTitle"), F.lit(""))).alias("position_title"),
        X.clean_str(F.coalesce(m.getField("PositionURI"), F.lit(""))).alias("position_uri"),
        X.render_location(m.getField("PositionLocation")).alias("position_location"),
        X.render_remuneration(m.getField("PositionRemuneration")).alias("position_remuneration"),
        X.parse_iso_date(m.getField("PositionStartDate")).alias("position_start_date"),
        X.parse_iso_date(m.getField("PositionEndDate")).alias("position_end_date"),
        X.clean_str(F.coalesce(m.getField("OrganizationName"), F.lit(""))).alias("organization_name"),
        X.clean_str(F.coalesce(m.getField("DepartmentName"), F.lit(""))).alias("department_name"),
        X.first_field(m.getField("JobCategory"), "Name").alias("job_category"),
        X.first_field(m.getField("JobGrade"), "Code").alias("job_grade"),
        F.current_timestamp().alias("extracted_at"),  # F7
        (F.col("page").cast("long") * PAGE_SIZE + F.col("pos")).alias("ingest_seq"),
    )
    return flat.filter(X.is_valid_posting(F.col("position_title"), F.col("position_uri")))  # P2
