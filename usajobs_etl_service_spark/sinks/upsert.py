"""S6 / J1 / A8 — the upsert (merge) sink (SURVEY.md §2.1 S6, §2.3 J1,
§2.4 A8; reference ``etl/etl.py:445-525``, trigger ``init.sql:28-41``).

Semantics preserved from the reference:
- **first-wins within a batch** (etl.py:452-465): the caller runs
  ``dedup_first_wins`` first, as ``JobPipeline.run`` does; the sink
  keeps any one row per key, so no key is ever written twice,
- **last-writer-wins against the table** (ON CONFLICT DO UPDATE),
- ``created_at`` preserved on update, ``updated_at`` refreshed
  (DO UPDATE list excludes created_at; trigger refreshes updated_at),
- per-run metrics ``{"inserted", "updated", "total"}`` — the reference
  derives them from the PG ``(xmax = 0)`` trick; here they are the
  semi/anti-join split of the batch against the table.

Scale shape: the batch is at most ``max_pages x ingest.PAGE_SIZE`` postings
(the REST scan's page clamp), orders of magnitude smaller than the
table, so the batch side is always broadcast — the merge is then a scan
of the base table with a broadcast hash anti-join (no shuffle of the
base). On storage that supports it, the same semantics map 1:1 to
``MERGE INTO`` (Delta/Iceberg, ``sinks/delta_merge.py``); this module
is the engine-native implementation over plain snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    *,
    preserve_cols: list[str] | None = None,
    touch_cols: list[str] | None = None,
) -> DataFrame:
    """Return the post-merge table: base rows whose key is not in the
    batch, plus the batch (last-writer-wins per key).

    ``preserve_cols``: columns whose base value survives an update
    (reference: ``created_at``). ``touch_cols``: columns refreshed to
    ``current_timestamp()`` on every written row (reference:
    ``updated_at`` via trigger).
    """
    b = batch.dropDuplicates(key_cols)
    preserve_cols = preserve_cols or []
    touch_cols = touch_cols or []

    if preserve_cols:
        # prune base to the batch's keys FIRST (broadcast semi-join on the
        # small batch-key set), so what we later broadcast back is at most
        # |batch| rows — never a projection of the 100 TB base table
        keep = base.select(*key_cols, *[F.col(c).alias(f"__base_{c}") for c in preserve_cols]).join(
            F.broadcast(b.select(*key_cols)), key_cols, "left_semi"
        )
        b = b.join(F.broadcast(keep), key_cols, "left")
        for c in preserve_cols:
            b = b.withColumn(c, F.coalesce(F.col(f"__base_{c}"), F.col(c))).drop(f"__base_{c}")
    for c in touch_cols:
        b = b.withColumn(c, F.current_timestamp())

    untouched = base.join(F.broadcast(b).select(*key_cols), key_cols, "left_anti")
    return untouched.unionByName(b.select(*base.columns))


def merge_metrics(base: DataFrame, batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """A8: one-row DataFrame (inserted, updated, total) — the semi/anti
    split that replaces the reference's ``(xmax = 0) AS inserted`` flag
    readback (etl.py:487, 514-515). One pass over the (small) batch with
    a broadcast-able probe of base keys.
    """
    keys_b = batch.dropDuplicates(key_cols).select(*key_cols)
    # prune base keys to the batch's keys (broadcast semi on the small
    # side) before the probe join — never materialize/shuffle the full
    # base key set
    matched_keys = (
        base.select(*key_cols)
        .join(F.broadcast(keys_b), key_cols, "left_semi")
        .dropDuplicates(key_cols)
        .withColumn("__matched", F.lit(1))
    )
    flags = keys_b.join(F.broadcast(matched_keys), key_cols, "left")
    return flags.agg(
        F.count(F.when(F.col("__matched").isNull(), 1)).alias("inserted"),
        F.count(F.when(F.col("__matched").isNotNull(), 1)).alias("updated"),
        F.count(F.lit(1)).alias("total"),
    )


def upsert_stats(base: DataFrame, batch: DataFrame, key_cols: list[str]) -> dict:
    """Reference-shaped return value: ``{"inserted": n, "updated": m,
    "total": n+m}`` (etl.py:519-524)."""
    row = merge_metrics(base, batch, key_cols).first()
    return {"inserted": row["inserted"], "updated": row["updated"], "total": row["total"]}
