"""``etl_daily``: one daily ``JobPipeline.run()`` + ``statistics()``.

Each operation merges the same seeded 10^4-posting batch (MAX_PAGES 20 x
the 500-row page clamp) into a fresh copy of the same base version, so
every operation does identical work: scan 20 pages from the in-process
transport, spool, flatten, dedup, count, upsert stats, merge and rewrite
the snapshot, append the run log, read the stats back.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
from checks import check_etl, expected_created_at
from spans import Stopwatch, duration, exec_totals, node_rows

BATCH_POSTINGS = 10_000
MAX_PAGES = 20
BASE_ROWS = 100_000

LAYER = [
    "rest_api.pages", "rest_api.fetch_s", "rest_api.spool_s", "rest_api.spool_bytes", "transport.s",
    "ingest.flatten_s", "ingest.rows_in", "ingest.rows_valid", "ingest.spool_scans_per_run",
    "dedup.rows_in", "dedup.rows_out", "dedup.s",
    "upsert.stats_s", "upsert.merge_write_s", "upsert.inserted", "upsert.updated",
    "upsert.base_rows_read", "upsert.written_bytes", "upsert.write_amp",
    "pipeline.spark_jobs", "pipeline.run_self_s", "pipeline.table_bytes", "stats.readback_s",
]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def build_base(cache_dir: str, seed: int) -> str:
    path = os.path.join(cache_dir, f"base-s{seed}-n{BASE_ROWS}")
    if not os.path.isdir(os.path.join(path, gen.BASE_VERSION)):
        gen.write_base(seed, BASE_ROWS, path + ".tmp")
        shutil.rmtree(path, ignore_errors=True)
        os.rename(path + ".tmp", path)
    return path


class EtlDaily:
    MIN_WARM = 2  # warm operations at least
    build_fixtures = staticmethod(build_base)

    def __init__(self, work_dir: str, cache_dir: str, seed: int):
        self.work_dir = work_dir
        self.base = build_base(cache_dir, seed)
        self.batch = gen.PostingBatch(seed, BATCH_POSTINGS, BASE_ROWS, gen.DAILY_OVERLAP)
        self.transport = self.batch.transport
        self.ops = 0

    def attach(self, spark) -> None:
        self.spark = spark
        self.expected = expected_created_at(spark, self.batch)

    def read_tables(self) -> None:
        """Nothing to register: the pipeline reads its own snapshots."""

    def operation(self, tracer=None) -> tuple[tuple[float, float], list[str], dict]:
        """One daily run on a fresh copy of the base; returns ((wall s,
        CPU s), problems, facts). The caller removes the copy with
        ``cleanup``."""
        from usajobs_etl_service_spark.pipeline import JobPipeline, PipelineConfig
        from usajobs_etl_service_spark.sources.rest_api import RestPageSource

        table_path = os.path.join(self.work_dir, f"table-{self.ops}")
        self.ops += 1
        shutil.copytree(self.base, table_path)
        source = RestPageSource(transport=self.transport, max_pages=MAX_PAGES)
        p = JobPipeline(self.spark, source, PipelineConfig(max_pages=MAX_PAGES, table_path=table_path))
        watch = Stopwatch()
        if tracer is None:
            metrics = p.run()
            stats = p.statistics()
        else:
            with tracer.span("etl.op"):
                with tracer.span("pipeline.run"):
                    metrics = p.run()
                stats = p.statistics()
        took = watch.read()
        version = p._versions()[-1]
        table = self.spark.read.parquet(os.path.join(table_path, version))
        problems = check_etl(metrics, stats, table, self.expected, self.batch)
        return took, problems, {"table_path": table_path, "metrics": metrics, "version": version}

    def cleanup(self, facts: dict) -> None:
        shutil.rmtree(facts["table_path"], ignore_errors=True)

    def run(self, seconds: float, tracer) -> dict:
        ops, problems = [], []
        t_window = time.perf_counter()
        while len(ops) < 1 + self.MIN_WARM or time.perf_counter() - t_window < seconds:
            (wall, cpu), probs, facts = self.operation(tracer)
            ops.append({"s": wall, "cpu": cpu, "facts": facts, "problems": probs})
            problems += probs
            if tracer is not None:
                self._sizes(facts)
            self.cleanup(facts)
        warm = ops[1:]
        return {
            "first_s": ops[0]["s"], "warm_s": statistics.median(o["s"] for o in warm),
            "first_cpu_s": ops[0]["cpu"], "warm_cpu_s": statistics.median(o["cpu"] for o in warm),
            "samples": [o["s"] for o in warm], "cpu_samples": [o["cpu"] for o in warm], "ops": ops,
            "attempted": len(ops), "failed": sum(1 for o in ops if o["problems"]),
            "problems": problems, "window_s": time.perf_counter() - t_window,
        }

    def _sizes(self, facts: dict) -> None:
        """Sizes measured after a traced operation, outside its spans. The
        batch's own parquet size is that of the rows this run stamped (the
        base's rows all predate ``gen.BASE_END``), written the pipeline's way."""
        from pyspark.sql import functions as F

        version_dir = os.path.join(facts["table_path"], facts["version"])
        facts["bytes_written"] = dir_bytes(version_dir)
        facts["table_bytes"] = dir_bytes(facts["table_path"])
        new = self.spark.read.parquet(version_dir)
        batch_rows = new.filter(F.col("extracted_at") >= F.lit(gen.BASE_END.isoformat()).cast("timestamp"))
        out = os.path.join(self.work_dir, "batch-bytes")
        batch_rows.write.partitionBy("ingest_date").option(
            "parquet.bloom.filter.enabled#position_uri", "true"
        ).mode("overwrite").parquet(out)
        facts["batch_bytes"] = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)

    # -- tracing ------------------------------------------------------------

    def install_spans(self, tracer) -> None:
        """Spans on the names ``pipeline.py`` imports, on ``JobPipeline``'s
        storage steps, on the REST source's spool and per-page fetch, on
        ``DataFrame.count`` (the run's ``fresh.count()``) and on the
        benchmark's own transport."""
        from pyspark.sql.classic.dataframe import DataFrame

        import usajobs_etl_service_spark.pipeline as pipeline
        import usajobs_etl_service_spark.sources.rest_api as rest_api

        tracer.wrap(pipeline, "scan_to_dataframe", "rest_api.scan")
        tracer.wrap(pipeline, "dedup_first_wins", "dedup.build")
        tracer.wrap(pipeline, "upsert_stats", "upsert.stats")
        tracer.wrap(pipeline, "merge_upsert", "upsert.merge_build")
        tracer.wrap(pipeline.JobPipeline, "_write_version", "pipeline.write_version")
        tracer.wrap(pipeline.JobPipeline, "statistics", "stats.readback")
        tracer.wrap(pipeline.JobPipeline, "current_table", "pipeline.current_table")
        tracer.wrap(pipeline.JobPipeline, "_append_run_log", "pipeline.run_log")
        tracer.wrap(rest_api, "spool_pages_to_json", "rest_api.spool")
        tracer.wrap(DataFrame, "count", "pipeline.count")

        read_spool = rest_api.read_spool

        def spanned_read_spool(spark, spool_dir):
            with tracer.span("ingest.read_spool") as sp:
                sp["spool_bytes"] = dir_bytes(spool_dir)
                return read_spool(spark, spool_dir)

        tracer.patch(rest_api, "read_spool", spanned_read_spool)

        fetch_pages = rest_api.RestPageSource.fetch_pages

        def spanned_fetch_pages(source, *args, **kwargs):
            pages = fetch_pages(source, *args, **kwargs)
            while True:
                with tracer.span("rest_api.fetch") as sp:
                    try:
                        page = next(pages)
                    except StopIteration:
                        return
                    sp["page"] = True
                yield page

        tracer.patch(rest_api.RestPageSource, "fetch_pages", spanned_fetch_pages)

        transport = self.transport

        def spanned_transport(params):
            with tracer.span("transport"):
                return transport(params)

        self.transport = spanned_transport

    def layers(self, tracer, res: dict) -> dict:
        """Per-layer metrics: the median over warm operations."""
        per_op = []
        for op_span, op in zip(tracer.by_name("etl.op"), res["ops"]):
            sub = tracer.subtree(op_span)

            def named(n):
                return [s for s in sub if s["name"] == n]

            run = named("pipeline.run")[0]
            count = named("pipeline.count")
            facts, m = op["facts"], op["facts"]["metrics"]
            scans = {(q["id"], i) for s in tracer.subtree(run) for q in s["sql"]
                     for i, n in enumerate(q["nodes"]) if n["name"] == "Scan json"}
            # the validation filter is the widest Filter of the count job (the
            # dedup's rank filter above it keeps a subset)
            rows_valid = node_rows(count, "Filter", per_node=True)
            per_op.append({
                "rest_api.pages": sum(1 for s in named("rest_api.fetch") if s.get("page")),
                "rest_api.fetch_s": sum(tracer.self_time(s) for s in named("rest_api.fetch")),
                "rest_api.spool_s": sum(tracer.self_time(s) for s in named("rest_api.spool")),
                "rest_api.spool_bytes": sum(s["spool_bytes"] for s in named("ingest.read_spool")),
                "transport.s": sum(duration(s) for s in named("transport")),
                "ingest.flatten_s": sum(duration(s) for s in count),
                "ingest.rows_in": node_rows(count, "Generate"),
                "ingest.rows_valid": rows_valid,
                "ingest.spool_scans_per_run": len(scans),
                "dedup.rows_in": rows_valid,
                "dedup.rows_out": m.jobs_extracted,
                "dedup.s": sum(sum(s["stage_walls"][1:]) for s in count),
                "upsert.stats_s": sum(duration(s) for s in named("upsert.stats")),
                "upsert.merge_write_s": sum(duration(s) for s in named("pipeline.write_version")),
                "upsert.inserted": m.inserted,
                "upsert.updated": m.updated,
                "upsert.base_rows_read": node_rows(named("pipeline.write_version"), "Scan parquet"),
                "upsert.written_bytes": facts["bytes_written"],
                "upsert.write_amp": facts["bytes_written"] / facts["batch_bytes"],
                "pipeline.spark_jobs": sum(s["jobs"] for s in tracer.subtree(run)),
                "pipeline.run_self_s": tracer.self_time(run),
                "pipeline.table_bytes": facts["table_bytes"],
                "stats.readback_s": sum(duration(s) for s in named("stats.readback")),
                **exec_totals(sub),
            })
        warm = per_op[1:]
        return {k: statistics.median(o[k] for o in warm) for k in per_op[0]}
