"""Delta Lake MERGE backend for the upsert sink (S6/J1) — the
table-format twin of :func:`sinks.upsert.merge_upsert`.

``merge_upsert`` returns the post-merge TABLE as a DataFrame (the
engine's pure-functional contract, oracle-checkable). On a lakehouse
deployment the same merge should instead land as an ACID ``MERGE INTO``
against a Delta table — matched-update / not-matched-insert, the exact
semantics of the reference's ``INSERT ... ON CONFLICT DO UPDATE``
(reference etl.py:445-525) — so concurrent readers see a consistent
snapshot and the transaction log records the operation.

delta-spark is an OPTIONAL dependency (pyproject extra ``[delta]``):
import happens inside the call, the module is importable without it,
and the real path is exercised by the ``-m gated`` test lane when the
package (and its Spark extension JARs) are present. This container
ships neither, so the lane skip-reports here and runs elsewhere.

Scale posture: Delta MERGE is itself a join of the batch against the
target's matching files (data-skipping prunes by key min/max); the
batch is deduped by key BEFORE the merge exactly as in merge_upsert —
a batch with duplicate keys would otherwise make the MERGE
non-deterministic (Delta raises on multiple source matches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def delta_merge_upsert(target_path: str, batch: DataFrame, key_cols: list[str]) -> None:
    """MERGE ``batch`` into the Delta table at ``target_path``:
    last-writer-wins per key, any one batch row per key (run
    ``dedup_first_wins`` first for in-batch first-wins, as for merge_upsert).

    Raises ``ImportError`` with install guidance when delta-spark is
    absent — callers on plain-parquet deployments use
    :func:`sinks.upsert.merge_upsert` instead.
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as exc:  # pragma: no cover — exercised by -m gated
        raise ImportError(
            "delta_merge_upsert needs the optional delta-spark package "
            "(pip install 'usajobs-etl-service-spark[delta]') and a "
            "session built with the Delta SQL extension; use "
            "sinks.upsert.merge_upsert for the plain-DataFrame merge"
        ) from exc

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    b = batch.dropDuplicates(key_cols)

    target = DeltaTable.forPath(batch.sparkSession, target_path)
    cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in key_cols)
    (
        target.alias("t")
        .merge(b.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
