"""``query_mix``: the analytical surface over the sf0.02 tables.

One closed-loop client issues the queries one after another in a seeded
order. The first pass gives each query's first execution in a fresh
process (its build, Catalyst and codegen costs included); further passes
are warm repeats. An execution is the query function call (plan build)
plus ``collect()``; the persisted-frame cache is cleared before every
execution, so no execution reuses another's intermediates.
"""

from __future__ import annotations

import functools
import inspect
import os
import shutil
import statistics
import sys
import time

import numpy as np

import gen
from checks import check_query, oracle_connection
from spans import EXEC_LAYER, Stopwatch, duration, exec_totals

SF = 0.02
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]

# The reference's 5 pinned queries (tests/test_performance.py) and the
# short ETL-surface queries that call the stats, upsert, text, views and
# text-index layers, and three of other shapes (metric union, dedup, text
# search) ...
ETL_SURFACE = [
    "q03_group_counts", "q04_top_k_recent", "q07_recent_view", "q08_like_prefix",
    "q32_monitor_display", "q01_job_statistics", "q02_metric_union", "q05_dedup_first_wins",
    "q13_text_search", "q16_upsert_merge", "q19_text_stats", "q34_views_layer",
    "q51_inverted_index",
]
# ... plus executor-bound LLM-data operator queries, so the vector,
# similarity, PQ, near-dup and semdedup layers are measured too: q82 calls
# vectors, similarity and neardup; q89 vectors and semdedup; q98 pq.
OPERATOR_FAMILIES = ["q82_embedding_srp_near_dup", "q89_semantic_dedup", "q98_pq_adc_exact_regime"]
QUERIES = ETL_SURFACE + OPERATOR_FAMILIES
# The queries under about 0.5 s wall warm. They weigh most in the geometric
# mean, so they get LIGHT_REPEATS more warm executions than the rest, and a
# spike in one execution does not move their warm median; two repeats cost
# about 5 s.
LIGHT = [q for q in ETL_SURFACE if q not in ("q16_upsert_merge", "q34_views_layer", "q51_inverted_index")]
LIGHT_REPEATS = 2

# Modules whose public functions are watched from outside for the family
# roll-ups (a query belongs to every family it calls into). No query of
# the mix calls operators.topk (q04 is a plain orderBy + limit), so it
# has no roll-up.
FAMILY_MODULES = [
    "functions.vectors", "operators.similarity", "operators.pq", "operators.neardup",
    "operators.semdedup", "functions.text", "operators.stats", "plans.views",
    "operators.textindex", "sinks.upsert",
]

LAYER = [
    "query.build_s", "query.build_jobs", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "query.compile_s", "query.exec_s",
]
FAMILY_LAYER = [f"family.{m}.{k}" for m in FAMILY_MODULES for k in ("warm_s", "cold_s")]


def build_tables(cache_dir: str, seed: int) -> str:
    path = os.path.join(cache_dir, f"tables-s{seed}-sf{SF}")
    if not os.path.isfile(os.path.join(path, "embeddings.parquet")):
        gen.write_tables(seed, SF, path + ".tmp")
        shutil.rmtree(path, ignore_errors=True)
        os.rename(path + ".tmp", path)
    return path


class FamilyRecorder:
    """Notes which family modules a query calls into. Holds only plain
    data, so a wrapped function stays picklable."""

    def __init__(self):
        self.touched: set[str] = set()

    def install(self) -> None:
        import importlib

        for short in FAMILY_MODULES:
            mod = importlib.import_module(f"usajobs_etl_service_spark.{short}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                wrapped = self._wrap(short, fn)
                for m in list(sys.modules.values()):
                    name = getattr(m, "__name__", "")
                    if name.startswith("usajobs_etl_service_spark") or name == "__spark_entry__":
                        for k, v in list(vars(m).items()):
                            if v is fn:
                                setattr(m, k, wrapped)

    def _wrap(self, family: str, fn):
        touched = self.touched

        @functools.wraps(fn)
        def call(*args, **kwargs):
            touched.add(family)
            return fn(*args, **kwargs)

        return call


class QueryMix:
    MIN_WARM = 1  # warm passes at least
    build_fixtures = staticmethod(build_tables)

    def __init__(self, work_dir: str, cache_dir: str, seed: int):
        import __spark_entry__ as entrymod

        self.sf_dir = build_tables(cache_dir, seed)
        self.seed = seed
        registry = entrymod.queries()
        self.fns = {n: registry[n] for n in QUERIES}
        self.oracle_sql = entrymod.oracle_sql()
        self.recorder = None

    def attach(self, spark) -> None:
        self.spark = spark

    def read_tables(self) -> None:
        from usajobs_etl_service_spark.session import read_table

        for t in TABLES:
            read_table(self.spark, self.sf_dir, t)

    def order(self, pass_no: int, names: list[str] = QUERIES) -> list[str]:
        rng = np.random.default_rng([self.seed, pass_no])
        return [names[i] for i in rng.permutation(len(names))]

    def execute(self, name: str, tracer=None, phase: str = "warm") -> dict:
        """One execution: build the plan, collect the rows."""
        self.spark.catalog.clearCache()
        fn = self.fns[name]
        watch = Stopwatch()
        if tracer is None:
            df = fn(self.spark, self.sf_dir)
            rows = df.collect()
            wall, cpu = watch.read()
            return {"s": wall, "cpu": cpu, "cols": df.columns, "rows": rows}
        with tracer.span("query", query=name, phase=phase) as sp:
            with tracer.span("query.build"):
                df = fn(self.spark, self.sf_dir)
            with tracer.span("query.exec"):
                rows = df.collect()
        wall, cpu = watch.read()
        sp["catalyst_ms"] = catalyst_phases(df)
        return {"s": wall, "cpu": cpu, "cols": df.columns, "rows": rows, "span": sp}

    def check(self, results: dict[str, dict]) -> list[str]:
        con = oracle_connection(self.sf_dir, TABLES)
        try:
            problems = []
            for name, r in results.items():
                problems += check_query(name, r["cols"], [tuple(x) for x in r["rows"]], con, self.oracle_sql)
            return problems
        finally:
            con.close()


    def run(self, seconds: float, tracer) -> dict:
        cold, warm, touched = {}, {n: [] for n in self.fns}, {}
        problems = []
        attempted = 0
        t_window = time.perf_counter()
        passes = 0
        while passes < 1 + self.MIN_WARM + LIGHT_REPEATS or time.perf_counter() - t_window < seconds:
            light_only = 1 + self.MIN_WARM <= passes < 1 + self.MIN_WARM + LIGHT_REPEATS
            for name in self.order(passes, LIGHT if light_only else QUERIES):
                if self.recorder is not None:
                    self.recorder.touched.clear()
                attempted += 1
                r = self.execute(name, tracer, "cold" if passes == 0 else "warm")
                if self.recorder is not None:
                    touched.setdefault(name, set()).update(self.recorder.touched)
                if passes == 0:
                    cold[name] = r
                    continue
                warm[name].append({"s": r["s"], "cpu": r["cpu"], "span": r.get("span")})
                if len(r["rows"]) != len(cold[name]["rows"]):
                    problems.append(f"{name}: a warm run returned {len(r['rows'])} rows, the first {len(cold[name]['rows'])}")
            passes += 1
        window = time.perf_counter() - t_window
        problems += self.check(cold)
        # one sample per query, its warm median: geomean and p95 are over queries
        samples = [statistics.median(r["s"] for r in warm[n]) for n in self.fns]
        cpu_samples = [statistics.median(r["cpu"] for r in warm[n]) for n in self.fns]
        return {
            "first_s": sum(r["s"] for r in cold.values()),
            "warm_s": sum(samples),
            "first_cpu_s": sum(r["cpu"] for r in cold.values()),
            "warm_cpu_s": sum(cpu_samples),
            "samples": samples,
            "cpu_samples": cpu_samples,
            "cold": cold, "warm_by_query": warm, "touched": touched,
            "attempted": attempted, "failed": len(problems), "problems": problems, "window_s": window,
        }

    # -- tracing ------------------------------------------------------------

    def install_spans(self, tracer) -> None:
        """Build/action spans are set in ``execute``; here the family
        modules' public functions are wrapped to see which a query calls."""
        self.recorder = FamilyRecorder()
        self.recorder.install()

    def layers(self, tracer, res: dict) -> dict:
        """Per-layer metrics: sums over the queries of each query's warm
        median; ``query.compile_s`` is the sum of first - warm median."""
        out = dict.fromkeys(LAYER + EXEC_LAYER + FAMILY_LAYER, 0.0)
        for name, c in res["cold"].items():
            spans = [w["span"] for w in res["warm_by_query"][name]]
            build_exec = [tracer.children(s) for s in spans]
            warm_s = statistics.median(duration(s) for s in spans)
            out["query.build_s"] += statistics.median(duration(b) for b, _ in build_exec)
            out["query.build_jobs"] += statistics.median(b["jobs"] for b, _ in build_exec)
            for ph in ("analysis", "optimization", "planning"):
                out[f"catalyst.{ph}_ms"] += statistics.median(s["catalyst_ms"][ph] for s in spans)
            out["query.compile_s"] += c["s"] - warm_s
            out["query.exec_s"] += statistics.median(duration(e) for _, e in build_exec)
            totals = [exec_totals(tracer.subtree(s)) for s in spans]
            for k in EXEC_LAYER:
                out[k] += statistics.median(t[k] for t in totals)
            for m in res["touched"][name]:
                out[f"family.{m}.warm_s"] += warm_s
                out[f"family.{m}.cold_s"] += c["s"]
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the QueryExecution
    tracker of the executed plan."""
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
