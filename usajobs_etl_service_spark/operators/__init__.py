"""Relational + extension operators. Each module documents the SURVEY §2
operator IDs it implements and the reference file:line it matches.

Persist lifecycle (the central statement of the per-site
"triangle_stats posture" comments — ADVICE r12):

Several operators ``persist(MEMORY_AND_DISK)`` a multi-consumer
intermediate and return a LAZY frame, so there is no post-action point
inside the operator at which the cache could be released. Memory
blocks are LRU-evictable, but evicted MEMORY_AND_DISK blocks spill to
local disk and are only freed on unpersist or session shutdown — a
long-lived session running many such queries accumulates disk usage
without bound. Spark's ContextCleaner does not free them either: the
CacheManager keeps a strong reference to every cached plan, so it
survives garbage collection of the returned frame.

The one release point is the caller's: run the action, then call
``spark.catalog.clearCache()``. Every loop in the repo does this
(bench.py, perfbench/queries.py, tools/scale_smoke.py); it also stops
the CacheManager's plan-fingerprint matching from silently serving one
query's cold run from a sibling query's cache.
"""
