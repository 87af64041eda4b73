"""E1 — the full pipeline orchestrator (SURVEY.md §3; reference
``ETLService.run``, ``etl/etl.py:553-692``).

Stage map (reference -> here):
  config resolve  -> PipelineConfig (env-backed)
  DDL             -> storage bootstrap (parquet dir / register views)
  pre-stats       -> summary_stats on the current table
  scan loop       -> RestPageSource spool (S1-S3)
  flatten         -> flatten_postings (S4, P1-P3, F1-F7)
  dedup           -> dedup_first_wins on ingest_seq (A6)
  load            -> merge_upsert + merge metrics (S6/J1/A8)
  retention       -> keep the newest KEEP_VERSIONS versions (S9)
  post-stats      -> summary_stats again
  run metrics     -> RunMetrics dataclass + etl_metadata append (A9)

The whole run is lazy until the single write action; nothing but scalar
stats ever reaches the driver.
"""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from usajobs_etl_service_spark.fs import delete_dir, list_dir
from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
from usajobs_etl_service_spark.operators.stats import summary_stats
from usajobs_etl_service_spark.schemas import JOB_POSTING_SCHEMA
from usajobs_etl_service_spark.sinks.upsert import merge_upsert, upsert_stats
from usajobs_etl_service_spark.sources.rest_api import RestPageSource, scan_to_dataframe

# versions kept after a successful run: the reference's nightly backup
# keeps the last 7 copies (docker-compose.prod.yml:89-96)
KEEP_VERSIONS = 7


@dataclass
class PipelineConfig:
    """Env-backed run config (reference etl.py:594-599, .env.example)."""

    keyword: str = field(default_factory=lambda: os.environ.get("SEARCH_KEYWORD", "data engineering"))
    location: str | None = field(default_factory=lambda: os.environ.get("SEARCH_LOCATION") or None)
    max_pages: int = field(default_factory=lambda: int(os.environ.get("MAX_PAGES", "20")))
    table_path: str = field(default_factory=lambda: os.environ.get("JOB_TABLE_PATH", "/tmp/job_postings"))


@dataclass
class RunMetrics:
    """A9 (reference etl.py:570-578)."""

    api_calls: int = 0
    jobs_extracted: int = 0
    jobs_loaded: int = 0
    inserted: int = 0
    updated: int = 0
    duration_seconds: float = 0.0
    status: str = "success"
    errors: list[str] = field(default_factory=list)


class JobPipeline:
    """Scan -> flatten -> dedup -> upsert -> stats, on parquet snapshots.

    The table is stored as date-partitioned parquet snapshots; each run
    merges and writes a new snapshot version, so readers are never
    blocked and a bad run is a one-line rollback. After a successful
    write all but the newest ``KEEP_VERSIONS`` versions are deleted (S9);
    a failed run deletes none.
    """

    def __init__(self, spark: SparkSession, source: RestPageSource, config: PipelineConfig | None = None):
        self.spark = spark
        self.source = source
        self.config = config or PipelineConfig()

    # -- storage ------------------------------------------------------------

    def _versions(self) -> list[str]:
        # Hadoop FS listing, not os.listdir: the table path may live on
        # any Spark-writable filesystem (file:, hdfs:, s3a:, ...)
        return sorted(d for d in list_dir(self.config.table_path, self.spark) if d.startswith("v="))

    def current_table(self) -> DataFrame:
        versions = self._versions()
        if not versions:
            empty = self.spark.createDataFrame([], JOB_POSTING_SCHEMA)
            return empty
        df = self.spark.read.parquet(os.path.join(self.config.table_path, versions[-1]))
        return df.drop("ingest_date")  # physical partition column, not part of the logical schema

    def _write_version(self, df: DataFrame) -> str:
        version = f"v={int(time.time() * 1000)}"
        out = os.path.join(self.config.table_path, version)
        # partition by ingest date: P5-style recency predicates become
        # partition pruning instead of full scans at 100 TB. Bloom filter
        # on the key: URIs are hash-ordered so min/max stats never prune
        # a P7 point lookup; the bloom skips non-matching row groups
        # (~500x fewer rows read — tools/bloom_pruning_demo.py, PLANS.md)
        df.withColumn("ingest_date", F.to_date("extracted_at")).write.partitionBy(
            "ingest_date"
        ).option("parquet.bloom.filter.enabled#position_uri", "true").mode("overwrite").parquet(out)
        return version

    def _prune_versions(self) -> None:
        for version in self._versions()[:-KEEP_VERSIONS]:
            delete_dir(os.path.join(self.config.table_path, version), self.spark)

    # -- run ----------------------------------------------------------------

    def run(self) -> RunMetrics:
        t0 = time.perf_counter()
        metrics = RunMetrics()
        try:
            # the lazy count, stats and write plans all read the spool, so it
            # is removed only once the write has returned or the run failed
            with tempfile.TemporaryDirectory(prefix="rest_spool_", ignore_cleanup_errors=True) as spool:
                base = self.current_table()
                fresh = scan_to_dataframe(
                    self.spark, self.source, self.config.keyword, self.config.location, spool_dir=spool
                )
                metrics.api_calls = self.source.api_calls
                fresh = dedup_first_wins(fresh, ["position_uri"], "ingest_seq")
                metrics.jobs_extracted = fresh.count()
                if metrics.jobs_extracted:
                    fresh_cols = fresh.drop("ingest_seq").withColumn(
                        "created_at", F.current_timestamp()
                    ).withColumn("updated_at", F.current_timestamp())
                    stats = upsert_stats(base, fresh_cols, ["position_uri"])
                    merged = merge_upsert(
                        base,
                        fresh_cols,
                        ["position_uri"],
                        preserve_cols=["created_at"],
                        touch_cols=["updated_at"],
                    )
                    self._write_version(merged)
                    self._prune_versions()
                    metrics.inserted = stats["inserted"]
                    metrics.updated = stats["updated"]
                    metrics.jobs_loaded = stats["total"]
        except Exception as e:  # noqa: BLE001 — run-level tolerance, reference etl.py:686-692
            metrics.status = "failed"
            metrics.errors.append(f"{type(e).__name__}: {e}")
        metrics.duration_seconds = round(time.perf_counter() - t0, 3)
        self._append_run_log(metrics)
        return metrics

    def statistics(self) -> dict:
        """S7 stats readback (reference etl.py:527-547)."""
        df = self.current_table()
        row = summary_stats(
            df, org_col="organization_name", dept_col="department_name", ts_col="created_at"
        ).first()
        return row.asDict()

    def _append_run_log(self, metrics: RunMetrics) -> None:
        """etl_metadata run log (reference init.sql:73-80) as an
        append-only parquet table."""
        log_df = self.spark.createDataFrame(
            [(metrics.jobs_loaded, metrics.status, "; ".join(metrics.errors) or None)],
            "jobs_processed int, status string, error_message string",
        ).select(
            F.current_timestamp().alias("last_run_at"),
            "jobs_processed",
            "status",
            "error_message",
            F.current_timestamp().alias("created_at"),
        )
        log_df.write.mode("append").parquet(os.path.join(self.config.table_path, "_etl_metadata"))
