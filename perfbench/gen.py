"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- USAJOBS-shaped search pages (nested JSON) served by an in-process
  transport, plus the job-postings base table a daily run merges into;
- the star-schema / corpus tables the query workloads read (same schemas
  and value domains as the engine's sf testdata).

The engine only ever sees the generated pages and parquet files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PAGE_SIZE = 500
URI_PREFIX = "https://www.usajobs.gov/job/"

TITLES = [
    "Data Engineer", "Software Engineer", "IT Specialist", "Data Scientist",
    "Program Analyst", "Budget Analyst", "Contract Specialist", "Nurse",
    "Attorney", "Economist", "Statistician", "Auditor", "Engineer (Civil)",
    "Management Analyst", "Human Resources Specialist", "Logistics Manager",
]
ORGS = [
    "Department of Defense", "Department of Veterans Affairs", "Department of Energy",
    "Department of Commerce", "Department of the Interior", "NASA",
    "Department of Justice", "Department of Labor", "Social Security Administration",
    "Department of Transportation", "General Services Administration", "",
]
DEPTS = [
    "Army", "Navy", "Air Force", "Veterans Health Administration", "Census Bureau",
    "Bureau of Land Management", "Federal Bureau of Investigation", "Office of the Secretary", "",
]
CITIES = [
    ("Washington", "DC"), ("Arlington", "VA"), ("Denver", "CO"), ("Austin", "TX"),
    ("Seattle", "WA"), ("Boston", "MA"), ("Atlanta", "GA"), ("San Diego", "CA"),
    ("Chicago", "IL"), ("Dayton", "OH"),
]
CATEGORIES = ["Information Technology", "Engineering", "Medical", "Legal", "Finance", "Administration"]
GRADES = ["GS-07", "GS-09", "GS-11", "GS-12", "GS-13", "GS-14", "GS-15"]
INTERVALS = ["Per Year", "Per Hour"]

# A day's scan is mostly postings already seen the day before: this share
# of a daily batch's distinct valid keys exists in the base table.
DAILY_OVERLAP = 0.8
INVALID_URI_SHARE = 0.01
IN_BATCH_DUP_SHARE = 0.02
# The base table's timestamps; a batch is stamped "now" by the pipeline.
BASE_DAY0 = dt.date(2024, 1, 1)
BASE_DAYS = 60
BASE_END = BASE_DAY0 + dt.timedelta(days=BASE_DAYS)


# ---------------------------------------------------------------------------
# Postings (nested API pages)
# ---------------------------------------------------------------------------

def _descriptor(rng: np.random.Generator, key: int, uri: str) -> dict:
    m: dict = {
        "PositionTitle": TITLES[int(rng.integers(len(TITLES)))],
        "PositionURI": uri,
    }
    locs = []
    for _ in range(int(rng.integers(0, 4))):  # 0-3 locations
        city, state = CITIES[int(rng.integers(len(CITIES)))]
        locs.append({"CityName": city, "StateCode": state, "CountryCode": "US"})
    m["PositionLocation"] = locs
    if rng.random() < 0.85:  # missing remuneration otherwise
        lo = int(rng.integers(40, 150)) * 1000
        rem = {"MinimumRange": str(lo), "RateIntervalCode": INTERVALS[int(rng.integers(2))]}
        if rng.random() < 0.7:
            rem["MaximumRange"] = str(lo + int(rng.integers(5, 60)) * 1000)
        m["PositionRemuneration"] = [rem]
    m["OrganizationName"] = ORGS[int(rng.integers(len(ORGS)))]
    m["DepartmentName"] = DEPTS[int(rng.integers(len(DEPTS)))]
    if rng.random() < 0.9:  # missing dates otherwise
        start = BASE_DAY0 + dt.timedelta(days=int(rng.integers(0, 400)))
        m["PositionStartDate"] = f"{start.isoformat()}T00:00:00.0000000"
        end = start + dt.timedelta(days=int(rng.integers(7, 60)))
        m["PositionEndDate"] = f"{end.isoformat()}T23:59:59.9970000"
    m["JobCategory"] = [{"Name": CATEGORIES[key % len(CATEGORIES)]}]
    m["JobGrade"] = [{"Code": GRADES[int(rng.integers(len(GRADES)))]}]
    return m


class PostingBatch:
    """One scan's worth of postings, split into API pages.

    ``expected_inserted`` / ``expected_updated`` are the generator's
    known split of the distinct valid keys against a base of
    ``base_rows`` keys ``0 .. base_rows-1``."""

    def __init__(self, seed: int, n_postings: int, base_rows: int, overlap: float):
        rng = np.random.default_rng([seed, n_postings, base_rows, 1])
        n_dup = int(n_postings * IN_BATCH_DUP_SHARE)
        n_invalid = int(n_postings * INVALID_URI_SHARE)
        n_distinct = n_postings - n_dup - n_invalid
        n_old = int(round(n_distinct * overlap)) if base_rows else 0
        old = rng.choice(base_rows, n_old, replace=False) if n_old else np.empty(0, np.int64)
        new = base_rows + rng.choice(10 * n_postings, n_distinct - n_old, replace=False)
        keys = np.concatenate([old, new]).astype(np.int64)
        rng.shuffle(keys)
        # scan order: distinct keys at positions 0..n-1; an in-batch
        # duplicate repeats a key somewhere after its first occurrence
        # (first-wins keeps the first); invalid URIs land anywhere
        dup_idx = rng.choice(n_distinct, n_dup, replace=False)
        pos = np.concatenate([
            np.arange(n_distinct, dtype=np.float64),
            rng.uniform(dup_idx + 0.5, n_distinct),
            rng.uniform(-0.5, n_distinct, n_invalid),
        ])
        all_keys = np.concatenate([keys, keys[dup_idx], np.full(n_invalid, -1, np.int64)])
        order = np.argsort(pos, kind="stable")
        rows: list[tuple[int, str]] = []
        invalid = 0
        for k in all_keys[order].tolist():
            if k < 0:  # not http: dropped by the validation filter
                rows.append((-1, f"usajobs.gov/job/invalid-{seed}-{invalid}"))
                invalid += 1
            else:
                rows.append((k, f"{URI_PREFIX}{k}"))
        self.descriptors = [_descriptor(rng, k if k >= 0 else i, uri) for i, (k, uri) in enumerate(rows)]
        self.base_rows = base_rows
        self.n_postings = len(rows)
        self.expected_inserted = n_distinct - n_old
        self.expected_updated = n_old
        self.updated_keys = [int(k) for k in old]
        self.pages = [
            self._page(self.descriptors[i:i + PAGE_SIZE]) for i in range(0, len(rows), PAGE_SIZE)
        ]

    def _page(self, items: list[dict]) -> dict:
        return {
            "SearchResult": {
                "SearchResultCount": len(items),
                "SearchResultCountAll": self.n_postings,
                "SearchResultItems": [{"MatchedObjectDescriptor": m} for m in items],
            }
        }

    def transport(self, params: dict) -> dict:
        """The REST source's injectable ``params -> payload`` transport."""
        page = int(params["Page"])
        if 1 <= page <= len(self.pages):
            return self.pages[page - 1]
        return {"SearchResult": {"SearchResultCount": 0, "SearchResultCountAll": self.n_postings,
                                 "SearchResultItems": []}}


# ---------------------------------------------------------------------------
# Job-postings base table (the pipeline's own snapshot layout)
# ---------------------------------------------------------------------------

BASE_VERSION = "v=0000000000000"  # sorts before every run's v=<epoch ms>


def base_created_at(key: np.ndarray) -> np.ndarray:
    """``created_at`` of base key ``key`` in microseconds since the epoch:
    a pure function, so the check can recompute it for any key."""
    day0 = int(dt.datetime(BASE_DAY0.year, BASE_DAY0.month, BASE_DAY0.day,
                           tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return day0 + (key * 2_654_435_761 % (BASE_DAYS * 86_400)) * 1_000_000 + 7


def write_base(seed: int, rows: int, table_dir: str) -> None:
    """Write a ``rows``-posting table as one snapshot version partitioned
    by ``ingest_date``, keys ``0 .. rows-1``."""
    rng = np.random.default_rng([seed, rows, 2])
    key = np.arange(rows, dtype=np.int64)

    def pick(pool: list[str]) -> pa.Array:
        return pa.DictionaryArray.from_arrays(
            pa.array(rng.integers(0, len(pool), rows), pa.int32()), pa.array(pool)
        ).cast(pa.string())

    locs = [f"{c}, {s}, US" for c, s in CITIES] + ["Location not specified"]
    rems = [f"${lo:,} - ${lo + 20000:,} Per Year" for lo in range(40000, 150000, 10000)] + ["Not specified"]
    created = base_created_at(key)
    start = pa.array(
        (rng.integers(0, 400, rows) + (BASE_DAY0 - dt.date(1970, 1, 1)).days).astype(np.int32), pa.date32()
    )
    table = pa.table({
        "position_title": pick(TITLES),
        "position_uri": pc.binary_join_element_wise(URI_PREFIX, pa.array(key).cast(pa.string()), ""),
        "position_location": pick(locs),
        "position_remuneration": pick(rems),
        "position_start_date": start,
        "position_end_date": pc.add(start.cast(pa.int32()), pa.array(rng.integers(7, 60, rows).astype(np.int32))).cast(pa.date32()),
        "organization_name": pick(ORGS),
        "department_name": pick(DEPTS),
        "job_category": pick(CATEGORIES),
        "job_grade": pick(GRADES),
        "extracted_at": pa.array(created, pa.timestamp("us", tz="UTC")),
        "created_at": pa.array(created, pa.timestamp("us", tz="UTC")),
        "updated_at": pa.array(created, pa.timestamp("us", tz="UTC")),
    })
    day = ((created // 1_000_000) // 86_400).astype(np.int32)
    out = os.path.join(table_dir, BASE_VERSION)
    shutil.rmtree(out, ignore_errors=True)
    order = np.argsort(day, kind="stable")
    table, day = table.take(pa.array(order)), day[order]
    bounds = np.flatnonzero(np.diff(day)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, rows]):
        d = dt.date(1970, 1, 1) + dt.timedelta(days=int(day[lo]))
        part = os.path.join(out, f"ingest_date={d.isoformat()}")
        os.makedirs(part)
        pq.write_table(table.slice(lo, hi - lo), os.path.join(part, "part-00000.snappy.parquet"),
                       compression="snappy")


# ---------------------------------------------------------------------------
# Star-schema + corpus tables for the query workloads
# ---------------------------------------------------------------------------

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "the", "row", "agg",
    "key", "query", "a", "scan", "batch",
]
PART_WORDS_A = ["large", "hot", "blue", "small", "red", "cold", "green", "dark"]
PART_WORDS_B = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]


def _ts_days(rng: np.random.Generator, start: dt.date, days: int, n: int) -> pa.Array:
    d0 = (start - dt.date(1970, 1, 1)).days
    return pa.array((d0 + rng.integers(0, days, n)).astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten query tables at scale factor ``sf`` (sf 0.1 = 600k
    lineitems, 5k documents, 2k embeddings) into ``out_dir``."""
    rng = np.random.default_rng([seed, int(sf * 1000), 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS_A[a]} {PART_WORDS_B[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts_days(rng, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["N", "R", "A"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, dt.date(1995, 1, 2), 2499, n_line),
    })
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    ev_ts = t0 + np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write_documents(rng, n_doc, out_dir)
    emb = rng.normal(0.0, 0.1246, (n_emb, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def _write_documents(rng: np.random.Generator, n_docs: int, out_dir: str) -> None:
    # 5% near-dups (an earlier text + " dup"), 8 exact copies per 5000
    n_near, n_exact = n_docs // 20, max(1, 8 * n_docs // 5000)
    n_base = n_docs - n_near - n_exact
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n_base)]
    texts += [texts[i] for i in rng.integers(0, n_base, n_exact)]
    texts += [texts[i] + " dup" for i in rng.integers(0, n_base, n_near)]
    texts = [texts[i] for i in rng.permutation(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs, p=[0.412, 0.151, 0.149, 0.148, 0.140]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
