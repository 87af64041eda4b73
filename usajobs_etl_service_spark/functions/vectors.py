"""Vector math over ``array<float/double>`` columns — pure built-in
higher-order functions (JVM-side; no Python on the hot path).

Used by the similarity-search and embedding-dedup operators
(SURVEY.md §2.11)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL/zero-norm -> NULL (via try_divide).

    ``a`` and ``b`` are bound ONCE per row as higher-order-function
    LAMBDA VARIABLES before the dot/norm folds reference them (x3 and
    x2 respectively). Passing the raw Columns instead re-evaluates the
    argument expression per reference after ``CollapseProject`` /
    ``PushDownPredicates`` inline the producing projection — for
    q194's probe the int8 quantization transform ran 4x per row
    (measured 2.3 s -> 0.7 s at sf0.1 from this binding alone). Same
    fold expressions over the same values, so results are
    bit-identical; the wrapper adds two 1-element array allocations
    per row. NULL args: ``array(a)`` is a 1-element [NULL] array, the
    lambda sees NULL, and the folds propagate NULL exactly as
    before."""
    return F.zip_with(
        F.array(a),
        F.array(b),
        lambda x, y: F.try_divide(dot(x, y), norm(x) * norm(y)),
    )[0]


def l2_normalize(a: Column) -> Column:
    """Unit-normalize. The naive ``transform(a, x -> x / norm(a))``
    re-evaluates the O(dim) norm fold inside the per-element lambda —
    O(dim^2) interpreted work per evaluation (half of round-7's q157
    32 s). ``array_repeat`` evaluates the norm ONCE per row and
    ``zip_with`` divides element-wise: O(dim), bit-identical values
    (same division, same operand order)."""
    return F.zip_with(
        a,
        F.array_repeat(norm(a), F.size(a)),
        lambda x, n: F.try_divide(x, n),
    )
