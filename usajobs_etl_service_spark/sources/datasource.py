"""S1-S3 as a native PySpark DataSource (Python Data Source API,
Spark 4): ``spark.read.format("usajobs_rest")`` with page-partition
planning and option pushdown.

Two source flavors ship for the same API surface:

- ``sources/rest_api.py`` — driver-side spool scan: the RIGHT shape for
  a rate-limited live API (one polite client, retry/breaker policies,
  O(1-page) driver memory). Default for production ingest.
- this module — a DataSourceV2-style reader where EACH PAGE IS AN INPUT
  PARTITION fetched executor-side in parallel. The right shape for
  bulk/mirrored endpoints with no rate limit (or per-partition token
  buckets): scan width scales with the cluster, and Catalyst sees a
  real source with options pushdown (S2) and partition planning (S3).

Pushdown options (S2 parity, reference etl.py:191-199): ``keyword``,
``location``, ``results_per_page`` (clamped to 500), ``max_pages``.
Partition planning (S3): a driver-side probe of page 1 reads
``SearchResultCountAll`` and plans ``ceil(count_all/per_page)`` page
partitions, capped by ``max_pages`` — the early-exit limit lives in the
planner, not the executors.

The ``mock`` mode generates deterministic synthetic pages executor-side
(seeded by page number) so the full distributed path is testable with
no network; a live deployment supplies ``base_url`` +
``auth_header_json`` and the partition fetch uses the same retrying
transport as the spool source.

``emit`` option — what a partition yields (measured comparison in
SCALE.md §Python DataSource):

- ``payload`` (default, q46's contract): ONE (page, json) row per
  page. Worker round-trip dominates at 1 row/page; Arrow batching
  cannot help this shape (TODO.md round-3 analysis, confirmed).
- ``rows``: the page's items as per-row tuples (real row volume,
  pickle serialization row-at-a-time).
- ``rows_arrow``: the same items as ONE ``pyarrow.RecordBatch`` per
  page — the Spark 4 Arrow fast path: the worker hands a columnar
  batch straight to the JVM, no per-row pickling.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from usajobs_etl_service_spark.sources.ingest import PAGE_SIZE

RAW_SCHEMA = "page int, payload string"

ITEM_SCHEMA = (
    "position_title string, position_uri string, organization_name string, "
    "city string, state string, country string, minimum_range string, "
    "rate_interval string"
)

ITEM_COLS = [
    "position_title", "position_uri", "organization_name", "city", "state",
    "country", "minimum_range", "rate_interval",
]


def _items_to_tuples(payload: dict) -> list[tuple]:
    """Flatten a page payload's items to ITEM_SCHEMA tuples (shared by
    the ``rows`` and ``rows_arrow`` emit modes, mock or live)."""
    out = []
    for item in payload.get("SearchResult", {}).get("SearchResultItems", []):
        d = item.get("MatchedObjectDescriptor", {})
        loc = (d.get("PositionLocation") or [{}])[0]
        rem = (d.get("PositionRemuneration") or [{}])[0]
        out.append(
            (
                d.get("PositionTitle", ""),
                d.get("PositionURI", ""),
                d.get("OrganizationName", ""),
                loc.get("CityName", ""),
                loc.get("StateCode", ""),
                loc.get("CountryCode", ""),
                str(rem.get("MinimumRange", "")),
                str(rem.get("RateIntervalCode", "")),
            )
        )
    return out


def _mock_page(page: int, per_page: int, total: int, seed: int = 42) -> dict:
    """Deterministic synthetic page (same recipe as the perf-suite
    generators in FIXTURES.md §2): titles/orgs cycle, URIs unique."""
    start = (page - 1) * per_page
    n = max(0, min(per_page, total - start))
    items = [
        {
            "MatchedObjectDescriptor": {
                "PositionTitle": f"Data Engineer {start + i}",
                "PositionURI": f"https://www.usajobs.gov/job/{seed}-{start + i}",
                "OrganizationName": f"Department {(start + i) % 10}",
                "PositionLocation": [
                    {"CityName": f"City {(start + i) % 10}", "StateCode": f"S{(start + i) % 5}", "CountryCode": "US"}
                ],
                "PositionRemuneration": [
                    {"MinimumRange": str(80000 + (start + i) * 100), "RateIntervalCode": "Per Year"}
                ],
            }
        }
        for i in range(n)
    ]
    return {
        "SearchResult": {
            "SearchResultCount": len(items),
            "SearchResultCountAll": total,
            "SearchResultItems": items,
        }
    }


class PagePartition(InputPartition):
    def __init__(self, page: int, n_pages: int = 1):
        self.page = page  # first page of this partition's range
        self.n_pages = n_pages


class RestJobsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.per_page = min(int(options.get("results_per_page", PAGE_SIZE)), PAGE_SIZE)
        self.max_pages = int(options.get("max_pages", 20))
        self.mode = options.get("mode", "mock")
        self.total = int(options.get("mock_total", 1200))
        self.seed = int(options.get("mock_seed", 42))
        self.emit = options.get("emit", "payload")
        if self.emit not in ("payload", "rows", "rows_arrow"):
            raise ValueError(f"emit must be payload|rows|rows_arrow, got {self.emit!r}")
        # partition = a RANGE of pages. One page per partition (the
        # default, q46's contract) maximizes fetch parallelism for a
        # rate-limited live API; bulk mirrors should size partitions to
        # cluster width instead — measured on local[32], 1000 pages as
        # 1000 partitions is ~6x slower than as 32 partitions purely on
        # task dispatch + Python-worker round-trips (SCALE.md).
        self.pages_per_partition = max(int(options.get("pages_per_partition", 1)), 1)

    # -- S3: partition planning --------------------------------------------
    def partitions(self):
        if self.mode == "mock":
            count_all = self.total
        else:  # pragma: no cover — live probe
            probe = self._fetch(1)
            count_all = probe.get("SearchResult", {}).get("SearchResultCountAll", 0)
        n_pages = max((count_all + self.per_page - 1) // self.per_page, 0)
        n_pages = min(n_pages, self.max_pages)
        step = self.pages_per_partition
        return [
            PagePartition(p, min(step, n_pages - p + 1)) for p in range(1, n_pages + 1, step)
        ]

    # -- S1: per-partition page fetch --------------------------------------
    def _fetch(self, page: int) -> dict:
        if self.mode == "mock":
            return _mock_page(page, self.per_page, self.total, self.seed)
        # pragma: no cover — live transport (same policies as rest_api)
        from usajobs_etl_service_spark.sources.rest_api import RetryPolicy, http_transport

        transport = http_transport(
            self.options["base_url"], json.loads(self.options.get("auth_header_json", "{}"))
        )
        params = {
            "Keyword": self.options.get("keyword", ""),
            "ResultsPerPage": self.per_page,
            "Page": page,
            "WhoMayApply": "All",
        }
        if self.options.get("location"):
            params["LocationName"] = self.options["location"]
        return RetryPolicy().call(lambda: transport(params))

    def read(self, partition: PagePartition) -> Iterator:
        for page in range(partition.page, partition.page + partition.n_pages):
            payload = self._fetch(page)
            if self.emit == "payload":
                yield (page, json.dumps(payload))
            elif self.emit == "rows":
                yield from _items_to_tuples(payload)
            else:  # rows_arrow: one columnar batch per page, zero pickling
                import pyarrow as pa

                rows = _items_to_tuples(payload)
                cols = list(zip(*rows)) if rows else [[] for _ in ITEM_COLS]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(list(c), pa.string()) for c in cols], names=ITEM_COLS
                )


class RestJobsDataSource(DataSource):
    """``spark.read.format("usajobs_rest")`` — register with
    ``register_rest_datasource(spark)``."""

    @classmethod
    def name(cls) -> str:
        return "usajobs_rest"

    def schema(self) -> str:
        if self.options.get("emit", "payload") == "payload":
            return RAW_SCHEMA
        return ITEM_SCHEMA

    def reader(self, schema) -> RestJobsReader:
        return RestJobsReader(self.options)


def register_rest_datasource(spark) -> None:
    spark.dataSource.register(RestJobsDataSource)


def read_rest_jobs(spark, **options):
    """Convenience: registered read -> flattened canonical postings."""
    from usajobs_etl_service_spark.sources.ingest import flatten_postings, parse_api_pages

    register_rest_datasource(spark)
    reader = spark.read.format("usajobs_rest")
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.load()
    return flatten_postings(parse_api_pages(raw))
