"""Scalar transforms F1-F5, F12-F13 and the validation predicate P2 as
native Column expressions (SURVEY.md §2.8, §2.10). F6-F11 and F14 are
single Spark built-ins used inline where they apply (COVERAGE.md §2.8).

Parity notes: each function reproduces the *observable* golden behavior of
the reference's Python helpers (reference ``etl/etl.py:299-348``,
goldens in ``tests/test_unit.py:184-229``) without any Python on the hot
path. The engine runs with ANSI SQL mode (Spark 4 default), so all
fallible parses use ``try_``/``get`` variants — a malformed value yields
NULL/default, matching the reference's try/except-to-default behavior
(P3 tolerance, reference ``etl/etl.py:234-290``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LOCATION_NOT_SPECIFIED = "Location not specified"
NOT_SPECIFIED = "Not specified"


def nullif_empty(col: Column) -> Column:
    """'' -> NULL (so concat_ws / coalesce treat empty and missing alike)."""
    return F.nullif(col, F.lit(""))


# ---------------------------------------------------------------------------
# F1 — trim
# ---------------------------------------------------------------------------

def clean_str(col: Column) -> Column:
    """F1: ``.strip()`` parity (reference etl.py:239-240)."""
    return F.trim(col)


# ---------------------------------------------------------------------------
# F2 — location render
# ---------------------------------------------------------------------------

def render_location(location_array: Column) -> Column:
    """F2: render ``PositionLocation[]`` to ``"City, ST, US"``.

    Semantics (reference ``etl/etl.py:299-313``): take the first element;
    join the non-empty of [CityName, StateCode, CountryCode] with ", ";
    a *missing* CountryCode key defaults to "US" while a present-but-empty
    one is dropped (schema-on-read maps missing -> NULL, so NULL -> "US",
    '' -> dropped); empty/NULL array, or all parts empty -> the
    "Location not specified" literal. Golden: "Washington, DC, US".
    """
    loc = F.get(location_array, 0)  # NULL-safe under ANSI (vs element_at)
    city = nullif_empty(loc.getField("CityName"))
    state = nullif_empty(loc.getField("StateCode"))
    country = F.when(loc.getField("CountryCode").isNull(), F.lit("US")).otherwise(
        nullif_empty(loc.getField("CountryCode"))
    )
    rendered = F.concat_ws(", ", city, state, country)
    return (
        F.when(location_array.isNull() | (F.size(location_array) == 0), F.lit(LOCATION_NOT_SPECIFIED))
        .when(rendered == "", F.lit(LOCATION_NOT_SPECIFIED))
        .otherwise(rendered)
    )


# ---------------------------------------------------------------------------
# F3 / F13 — remuneration render + thousands formatting
# ---------------------------------------------------------------------------

def format_money(col: Column) -> Column:
    """F13: Python ``f"{int(float(x)):,}"`` parity — truncate TOWARD ZERO
    (``int(float(-500.9))`` is -500; ``floor`` would give -501), then
    comma-group. double->long cast truncates toward zero and
    ``format_number(long, 0)`` groups without rounding
    (reference etl.py:330-334)."""
    return F.format_number(col.try_cast("double").try_cast("long"), 0)


def render_remuneration(remuneration_array: Column) -> Column:
    """F3: render ``PositionRemuneration[]`` to one of three shapes
    (reference ``etl/etl.py:315-338``):

    - ``"$80,000 - $120,000 Per Year"``  (min and max present)
    - ``"$80,000+ Per Year"``            (min only)
    - ``"Not specified"``                (neither / empty / parse error)

    Any numeric parse failure -> "Not specified" (try/except parity via
    try_cast NULL propagation).
    """
    rem = F.get(remuneration_array, 0)
    min_raw = nullif_empty(rem.getField("MinimumRange"))
    max_raw = nullif_empty(rem.getField("MaximumRange"))
    interval = F.coalesce(rem.getField("RateIntervalCode"), F.lit(""))
    min_fmt = format_money(min_raw)  # NULL if missing or non-numeric
    max_fmt = format_money(max_raw)
    both = F.concat(F.lit("$"), min_fmt, F.lit(" - $"), max_fmt, F.lit(" "), interval)
    min_only = F.concat(F.lit("$"), min_fmt, F.lit("+ "), interval)
    return (
        F.when(remuneration_array.isNull() | (F.size(remuneration_array) == 0), F.lit(NOT_SPECIFIED))
        .when(min_raw.isNotNull() & max_raw.isNotNull() & min_fmt.isNotNull() & max_fmt.isNotNull(), both)
        .when(min_raw.isNotNull() & max_raw.isNull() & min_fmt.isNotNull(), min_only)
        .otherwise(F.lit(NOT_SPECIFIED))
    )


# ---------------------------------------------------------------------------
# F4 — ISO date parse
# ---------------------------------------------------------------------------

def parse_iso_date(col: Column) -> Column:
    """F4: ``"2023-01-01T00:00:00.0000000"`` -> DATE; trailing ``Z`` ->
    UTC offset; invalid/NULL -> NULL (reference ``etl/etl.py:340-348``).

    ``try_to_timestamp`` returns NULL on failure, matching the
    try/except -> None behavior under ANSI mode.
    """
    normalized = F.regexp_replace(col, "Z$", "+00:00")
    return F.to_date(F.try_to_timestamp(normalized))


# ---------------------------------------------------------------------------
# F5 — first-of-array field
# ---------------------------------------------------------------------------

def first_field(array_col: Column, field: str, default: str = "") -> Column:
    """F5: ``arr[0].field`` else default (reference etl.py:259-268)."""
    return F.coalesce(F.get(array_col, 0).getField(field), F.lit(default))


# ---------------------------------------------------------------------------
# P2 — validation predicate
# ---------------------------------------------------------------------------

def is_valid_posting(title: Column, uri: Column) -> Column:
    """P2: title non-blank AND uri non-blank AND uri startswith 'http'
    (reference ``etl/etl.py:116-124``)."""
    return (
        title.isNotNull()
        & (F.trim(title) != "")
        & uri.isNotNull()
        & (F.trim(uri) != "")
        & uri.startswith("http")
    )


# ---------------------------------------------------------------------------
# F12 — full-text search parity
# ---------------------------------------------------------------------------

def text_matches(col: Column, query: str) -> Column:
    """F12: functional parity for the PG ``to_tsvector('english', ...)``
    GIN index (reference init.sql:20). Spark has no secondary index; at
    scale this is a pruned parquet scan + codegen'd predicate. Every
    query term must appear as a word (case-insensitive) — conjunctive
    term match like PG ``plainto_tsquery``.
    """
    import re

    terms = [t for t in query.lower().split() if t]
    pred = F.lit(True)
    for t in terms:
        # re.escape: terms like "c++" or "node.js" are literals, not regex.
        # \b is undefined next to a non-word char (e.g. after "c++"), so
        # anchor each side only when the term edge is a word character.
        left = r"\b" if re.match(r"\w", t) else ""
        right = r"\b" if re.search(r"\w$", t) else ""
        pred = pred & F.lower(col).rlike(left + re.escape(t) + right)
    return pred
