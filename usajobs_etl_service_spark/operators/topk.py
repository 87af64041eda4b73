"""Top-k — O1 (SURVEY.md §2.6).

O1 (``ORDER BY created_at DESC LIMIT k``, reference init.sql:57,
monitor.sh:54-55) must plan as ``TakeOrderedAndProject``: each partition
keeps a k-row heap, the driver merges per-partition heaps — no global
sort, no shuffle of the full table. ``orderBy().limit()`` produces
exactly that plan; never collect-then-sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_col: str | Column, k: int, desc: bool = True) -> DataFrame:
    """O1: top-k by a sort column — plans as TakeOrderedAndProject."""
    col = F.col(order_col) if isinstance(order_col, str) else order_col
    return df.orderBy(col.desc() if desc else col.asc()).limit(k)
