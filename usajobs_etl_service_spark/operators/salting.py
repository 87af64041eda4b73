"""Skew-resilient (salted) two-phase operators.

Hot keys melt single reducers: one key with 10^9 rows sends them all to
one task in a plain ``groupBy``/``dropDuplicates``/window. Salting
splits each key's rows across ``salt_buckets`` reducers in phase 1 and
merges the (tiny) per-salt partials in phase 2 — same results, bounded
per-task input. These generalize ``stats.salted_group_counts`` (A7) to
distinct, decomposable aggregates, and per-key top-k.

Phase-2 input is |keys| x salt_buckets rows — negligible next to the
data — so the cost of salting is one extra small shuffle, bought at the
price of never stalling on a skewed key. AQE's skew-join handling
covers *joins*; these cover aggregation-side skew, which AQE does not
re-plan.

All pure DataFrame ops; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Retry-deterministic row-salt: a content hash of the row, never a
# physical id. monotonically_increasing_id()/rand() depend on partition
# fetch order, and Spark does not roll back committed reducer output for
# expression-level nondeterminism — on a fetch-failure retry the same row
# can re-salt into a different bucket and partials double-count or drop
# rows (same hazard class as SPARK-38388). Collapsing fully-identical
# rows into one bucket is harmless here: phase-1 aggregation/dedup
# map-side-combines them, and identical rows are interchangeable under
# any deterministic top-k ordering. The degenerate hot key whose rows are
# ALL byte-identical lands on one reducer, but arrives pre-combined to
# ~one row per map task.
#
# By default the hash covers every hashable column; callers with wide
# rows (large text/signature arrays — per-row hash cost is proportional
# to row size) should pass ``salt_cols`` naming the group keys plus a
# compact high-cardinality discriminator (a doc id, a fingerprint).
# Columns whose type contains a map are skipped automatically: xxhash64
# raises for them (map equality is order-ambiguous). Passing salt_cols
# that are constant within a hot key (e.g. the group key alone) defeats
# the spread — include a per-row discriminator.


def _hashable(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def _salt(df: DataFrame, salt_buckets: int, salt_cols: list[str] | None = None) -> Column:
    if salt_cols is None:
        salt_cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
        if not salt_cols:
            raise ValueError("no hashable columns to derive a deterministic salt from; pass salt_cols")
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in salt_cols], F.lit(0x5A17)), F.lit(salt_buckets)
    ).alias("__salt")


def salted_distinct(
    df: DataFrame,
    cols: list[str],
    *,
    salt_buckets: int = 32,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """``df.select(cols).distinct()`` under value skew.

    Phase 1 dedups within (cols, salt) — a value with 10^9 duplicates
    reduces to ``salt_buckets`` survivors spread over many tasks; phase
    2 dedups the survivors. Equivalent to plain distinct.
    """
    salted = df.withColumn("__salt", _salt(df, salt_buckets, salt_cols))
    phase1 = salted.select(*cols, "__salt").dropDuplicates([*cols, "__salt"])
    return phase1.drop("__salt").dropDuplicates(cols)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    *,
    salt_buckets: int = 32,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Decomposable aggregates (``sum``/``count``/``min``/``max``) per
    key under key skew: partials per (key, salt), then merge. ``aggs``
    maps output column name -> "fn(col)", e.g. ``{"n": "count(*)",
    "total": "sum(value)"}``. Results equal the unsalted groupBy.
    """
    MERGE = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    partial_exprs, merge_exprs = [], []
    for out, spec in aggs.items():
        fn, _, col = spec.partition("(")
        fn = fn.strip().lower()
        col = col.rstrip(")").strip()
        if fn not in MERGE:
            raise ValueError(f"{fn} is not decomposable (supported: {sorted(MERGE)})")
        src = F.lit(1) if (fn == "count" and col in ("*", "1")) else F.col(col)
        partial_exprs.append(getattr(F, "count" if fn == "count" else fn)(src).alias(f"__p_{out}"))
        merge_exprs.append(getattr(F, MERGE[fn])(F.col(f"__p_{out}")).alias(out))
    salted = df.withColumn("__salt", _salt(df, salt_buckets, salt_cols))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*merge_exprs)


def salted_topk_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    k: int,
    *,
    salt_buckets: int = 32,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key top-k (deterministic ``order_cols``) under key skew.

    A plain ``row_number() over (partition by key order by ...)`` sorts
    every row of a hot key in one task. Salted: phase 1 takes top-k
    within (key, salt) — per-task input is the salt share of the key —
    phase 2 re-ranks the <= k * salt_buckets survivors per key. Any row
    in the true global top-k is in its salt bucket's top-k, so the
    result is identical to the unsalted window.
    """
    w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    phase1 = (
        df.withColumn("__salt", _salt(df, salt_buckets, salt_cols))
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    return phase1.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def _check_key_compat(
    left: DataFrame, right: DataFrame, lk: str, rk: str, *, lossless: bool = False
) -> None:
    """Both key dtypes must be join-compatible BEFORE any rendering:
    matching two sides through cast-to-string silently fails to pair
    values whose string forms differ (int 1 vs decimal 1.0, '01' vs
    '1') — under-counting exactly the skew a report exists to flag
    (round-8 review finding). Numeric<->numeric is fine for the
    REPORT (it mirrors the join's own coercion, so counts stay
    consistent with what the join would produce).

    ``lossless=True`` (skew_safe_join) is stricter: the hot/cold
    split filters each side in its NATIVE type while the join compares
    in the COERCED type, so a lossy coercion (bigint->double collides
    2^53 with 2^53+1) can strand a right row in the hot branch while
    its colliding left partner sits in the cold branch — silently
    losing matches (round-9 review finding). Only same-type,
    integral<->integral, and float<->double (exact widening) mixes
    preserve the branch invariant."""
    from pyspark.sql import types as T

    lt, rt = left.schema[lk].dataType, right.schema[rk].dataType
    if lt.simpleString() == rt.simpleString():
        return
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    fractional = (T.FloatType, T.DoubleType)
    if lossless:
        if isinstance(lt, integral) and isinstance(rt, integral):
            return
        if isinstance(lt, fractional) and isinstance(rt, fractional):
            return
        raise ValueError(
            f"join key dtypes mix losslessly-incoercible types: "
            f"{lk}={lt.simpleString()} vs {rk}={rt.simpleString()}; cast one "
            "side to the other's exact type first (a lossy coercion would "
            "silently drop matches across the hot/cold split)"
        )
    if isinstance(lt, T.NumericType) and isinstance(rt, T.NumericType):
        return
    raise ValueError(
        f"join key dtypes are not compatible: {lk}={lt.simpleString()} vs "
        f"{rk}={rt.simpleString()}; cast one side to the other's type first"
    )


def _key_pair_counts(
    left: DataFrame, right: DataFrame, lk: str, rk: str
) -> DataFrame:
    """Shared core of ``join_skew_report`` and ``skew_safe_join``'s
    auto-detect: per-side key cardinalities joined on the RAW key,
    with the output-pair product in DECIMAL(38,0) (a bigint product
    wraps negative at ~3e9 x 3e9 on one key and would sort the hottest
    key LAST). One copy so a fix here reaches both consumers.
    Columns: (__k, n_left, n_right, pairs)."""
    lc = (
        left.filter(F.col(lk).isNotNull())
        .groupBy(F.col(lk).alias("__k"))
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        right.filter(F.col(rk).isNotNull())
        .groupBy(F.col(rk).alias("__k"))
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    return lc.join(rc, "__k").select(
        "__k",
        "n_left",
        "n_right",
        (F.col("n_left").cast("decimal(19,0)") * F.col("n_right").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("pairs"),
    )


def join_skew_report(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str | None = None,
    top_k: int = 20,
    render_key: bool = True,
) -> DataFrame:
    """Pre-flight skew diagnostic for an equi-join: the ``top_k``
    heaviest join keys by OUTPUT cardinality (n_left * n_right — the
    rows one reducer would materialize for that key), plus each key's
    share of the total join output. Run this BEFORE a 100 TB join: a
    key whose ``pairs`` is a large output share is the task that will
    run for hours while the rest of the cluster idles, and the
    actionable response (AQE skew-join, salting, or dropping a
    degenerate key like NULL/empty-string) depends on seeing WHICH
    keys those are — cluster-side, without ever running the join.

    Cost: one count aggregate per side (map-side combined) + one
    hash join of the two KEY-CARDINALITY tables (|distinct keys| rows,
    not data rows) + a top-k. NULL keys are excluded, matching inner
    equi-join semantics.

    Output: (key string, n_left, n_right, pairs, pct_of_output) —
    ``pct_of_output`` rounds to 4, an exact integer ratio underneath.
    ``render_key=False`` keeps ``key`` in its RAW type instead of the
    display string — the form ``skew_safe_join(hot_keys_from=...)``
    needs (a string-rendered double or decimal would not equi-join
    back against the native key column), so a saved report can drive
    the lazy hot/cold split directly.
    """
    rk = right_key or left_key
    _check_key_compat(left, right, left_key, rk)
    # group and match on the RAW key values (numeric coercion is exact
    # for counting); the string render happens only in the output
    # projection — matching through cast-to-string would silently
    # un-pair values whose renderings differ (int 1 vs decimal 1.0)
    key_out = F.col("__k").cast("string") if render_key else F.col("__k")
    j = _key_pair_counts(left, right, left_key, rk).select(
        key_out.alias("key"), "n_left", "n_right", "pairs"
    )
    tot = j.agg(F.sum("pairs").alias("__tot"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n_left",
            "n_right",
            "pairs",
            F.round(
                F.col("pairs").cast("double") / F.col("__tot").cast("double"), 4
            ).alias("pct_of_output"),
        )
        .orderBy(F.col("pairs").desc(), F.col("key").asc())
        .limit(top_k)
    )


def skew_safe_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str | None = None,
    how: str = "inner",
    hot_keys: list | None = None,
    hot_keys_from: DataFrame | str | None = None,
    auto_min_share: float = 0.05,
    auto_top_k: int = 20,
    strategy: str = "broadcast",
    salt_buckets: int = 32,
    salt_cols: list[str] | None = None,
    max_broadcast_rows: int = 5_000_000,
) -> DataFrame:
    """Equi-join that survives one (or a few) degenerate hot keys — the
    mitigation that closes the loop ``join_skew_report`` opens. A plain
    shuffled join hashes EVERY row of a key to one reducer: an 80%-share
    key turns a 1000-executor cluster into one task plus 999 idle ones.
    This is exactly the scale hazard for the reference's keyed merge
    (J1, reference etl/etl.py:467-488 ON CONFLICT upsert) once a
    degenerate key (NULL sentinel, empty string, a crawler's default
    id) dominates a 100 TB batch.

    Recipe (the standard split-and-conquer):
    - Rows whose key is HOT are joined on a separate branch where the
      hot key cannot concentrate: ``strategy="broadcast"`` (default)
      broadcasts the right-side hot subset — the skewed left rows never
      shuffle at all; ``strategy="salt"`` replicates each right hot row
      ``salt_buckets`` ways and salts left rows with a deterministic
      row-content hash (retry-safe, see `_salt`), spreading the hot key
      over ``salt_buckets`` reducers — for when the hot subset's right
      rows are too many to broadcast; ``strategy="auto"`` (with
      ``hot_keys=None`` only) uses the detection pass's own counts —
      broadcast while the hot slice holds at most ``max_broadcast_rows``
      right rows, salt past that.
    - COLD keys take the plain join, untouched.
    - The union is exactly the plain inner join (each left x right
      match appears on exactly one branch).

    ``hot_keys`` may be passed explicitly (e.g. from a saved
    ``join_skew_report``); with ``hot_keys=None`` the report's
    key-cardinality aggregate runs first and keys holding at least
    ``auto_min_share`` of the join OUTPUT (capped at ``auto_top_k``
    keys) are collected — a bounded, key-sized pre-pass, never the
    join itself.

    Why not just AQE? ``spark.sql.adaptive.skewJoin`` splits skewed
    sort-merge partitions, but it declines whenever the join output's
    partitioning is REQUIRED by the parent (a groupBy/window on the
    join key — the common analytics shape), leaves broadcast-ineligible
    plans alone, and never helps a stream-stream join. This operator is
    the explicit, plan-shape-guaranteed fallback; the plan test pins
    the hot branch to BroadcastHashJoin.

    ``how`` accepts "inner", "left_semi", and "left_anti" — semi/anti
    are the J1 merge's scale shape (sinks/upsert.py pairs a left_anti
    insert split with a left_semi update split; reference
    etl/etl.py:467-488). For semi/anti the right side only matters as
    a KEY SET, so the hot branch collapses to a broadcast membership
    test: ``l_hot (semi|anti) broadcast(distinct keys of r_hot)`` —
    at most |hot_keys| rows regardless of how many right rows the hot
    key holds (the distinct is a partial-agg collapse, ~1 row per map
    task per key, never a reducer hotspot). ``strategy`` is therefore
    ignored for semi/anti, and auto-DETECTION flags a key hot when its
    share of EITHER side's rows reaches ``auto_min_share`` (a hot left
    key floods one reducer's probe side; a hot right key floods its
    build side; for anti, left-only keys never appear in pair counts
    at all, which is why the inner path's output-share metric is not
    used here). Outer variants would need null-extension bookkeeping
    across branches and stay unsupported.

    ``hot_keys_from`` (mutually exclusive with ``hot_keys``) keeps the
    plan FULLY LAZY for pipeline builders: pass a DataFrame — e.g. a
    saved ``join_skew_report(..., render_key=False)`` — or a parquet
    path, whose FIRST column holds raw key values. The hot/cold split
    becomes a broadcast semi/anti join against that key frame instead
    of collected ``isin`` literals, so constructing the result runs NO
    job (tested); the key frame must be key-sized (it is broadcast).
    NULL rows in the frame are filtered lazily (NULL keys never join).

    Constraints: left/right column names must be disjoint (the same
    precondition a plain ``join(cond)`` needs to stay unambiguous
    downstream); key dtypes must coerce LOSSLESSLY (same type,
    integral<->integral, or float<->double) — the split filters
    compare in native types while the join compares coerced, so a
    lossy bigint<->double mix could strand a match across branches.
    NULL keys never match, as in any equi-join. Auto mode
    (``hot_keys=None``, no ``hot_keys_from``) is EAGER: the key-sized
    detection aggregate and its bounded collect run when this function
    is CALLED, not when the result is executed — pass ``hot_keys`` or
    ``hot_keys_from`` for a fully lazy plan.
    """
    rk = right_key or left_key
    if how not in ("inner", "left_semi", "left_anti"):
        raise ValueError(
            f"skew_safe_join supports how='inner', 'left_semi' or "
            f"'left_anti', got {how!r}"
        )
    if strategy not in ("broadcast", "salt", "auto"):
        raise ValueError(
            f"strategy must be 'broadcast', 'salt' or 'auto', got {strategy!r}"
        )
    if salt_buckets < 2:
        raise ValueError(f"salt_buckets must be >= 2, got {salt_buckets}")
    if not 1 <= auto_top_k <= 10_000:
        # an unbounded top_k becomes an unbounded driver collect
        raise ValueError(f"auto_top_k must be in [1, 10000], got {auto_top_k}")
    if not 0.0 < auto_min_share <= 1.0:
        raise ValueError(f"auto_min_share must be in (0, 1], got {auto_min_share}")
    if max_broadcast_rows < 1:
        # a non-positive budget silently forces 'auto' to always salt
        raise ValueError(f"max_broadcast_rows must be >= 1, got {max_broadcast_rows}")
    if hot_keys is not None and hot_keys_from is not None:
        raise ValueError("pass hot_keys OR hot_keys_from, not both")
    if strategy == "auto" and (hot_keys is not None or hot_keys_from is not None):
        raise ValueError(
            "strategy='auto' needs the detection pass's counts; with explicit "
            "hot_keys/hot_keys_from pass strategy='broadcast' or 'salt'"
        )
    if hot_keys is not None and any(k is None for k in hot_keys):
        # ~isin([..., None]) is NULL for EVERY row — the cold branch
        # would silently drop the whole table; NULL keys never match an
        # inner join anyway, so a NULL "hot key" is always a mistake
        raise ValueError("hot_keys must not contain None (NULL keys never join)")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"left/right column names must be disjoint, both have {sorted(overlap)}"
        )
    _check_key_compat(left, right, left_key, rk, lossless=True)
    cond = F.col(left_key) == F.col(rk)
    semi_anti = how != "inner"
    out_cols = list(left.columns) if semi_anti else [*left.columns, *right.columns]
    lk_c, rk_c = F.col(left_key), F.col(rk)
    if hot_keys_from is not None:
        # fully LAZY split: the hot/cold branches test membership via a
        # broadcast semi/anti join against the saved key frame instead
        # of collected isin literals — constructing the result runs no
        # job; the frame must be key-sized (it is broadcast)
        hk = (
            left.sparkSession.read.parquet(hot_keys_from)
            if isinstance(hot_keys_from, str)
            else hot_keys_from
        )
        hk_name = "__hot_key"
        taken = set(left.columns) | set(right.columns)
        while hk_name in taken:
            hk_name += "_"
        hk = (
            hk.select(F.col(hk.columns[0]).alias(hk_name))
            .filter(F.col(hk_name).isNotNull())  # NULL keys never join
            .distinct()
        )
        _check_key_compat(left, hk, left_key, hk_name, lossless=True)
        bhk = F.broadcast(hk)
        l_hot = left.join(bhk, lk_c == F.col(hk_name), "left_semi")
        l_cold = left.join(bhk, lk_c == F.col(hk_name), "left_anti")
        r_hot = right.join(bhk, rk_c == F.col(hk_name), "left_semi")
        r_cold = right.join(bhk, rk_c == F.col(hk_name), "left_anti")
    else:
        if hot_keys is None and not semi_anti:
            # bounded auto-detect, EAGER at call time: the
            # join_skew_report aggregate (_key_pair_counts — key-sized,
            # never data-sized) filtered to output-share >=
            # auto_min_share; collects at most auto_top_k raw key
            # values to the driver before this function returns (merely
            # CONSTRUCTING the result runs two count aggregates — pass
            # hot_keys/hot_keys_from for a lazy plan)
            j = _key_pair_counts(left, right, left_key, rk)
            tot = j.agg(F.sum("pairs").alias("__tot"))
            hot_rows = (
                j.crossJoin(F.broadcast(tot))
                .filter(
                    F.col("pairs").cast("double")
                    >= F.lit(float(auto_min_share)) * F.col("__tot").cast("double")
                )
                # string-rendered key tiebreak: ties in pairs at the
                # auto_top_k cutoff must select the SAME hot set (and,
                # in auto mode, the same strategy) on every run
                .orderBy(F.col("pairs").desc(), F.col("__k").cast("string").asc())
                .limit(auto_top_k)
                .select("__k", "n_right")
                .collect()
            )
            hot_keys = [r["__k"] for r in hot_rows]
            if strategy == "auto":
                # the detection pass already counted the hot slice's
                # right rows — pick broadcast while the slice is small,
                # fall back to salt-replicate past the broadcast budget
                hot_right_rows = sum(r["n_right"] for r in hot_rows)
                strategy = (
                    "broadcast" if hot_right_rows <= max_broadcast_rows else "salt"
                )
        elif hot_keys is None:
            # semi/anti auto-detect: output share is the wrong metric
            # (a semi/anti emits <= 1 row per left row, and for anti a
            # hot LEFT-ONLY key never appears in pair counts at all);
            # the shuffle hazard is per-SIDE row concentration, so a
            # key is hot when its share of either side's non-NULL rows
            # reaches auto_min_share
            lc = (
                left.filter(lk_c.isNotNull())
                .groupBy(lk_c.alias("__k"))
                .agg(F.count(F.lit(1)).alias("n_left"))
            )
            rc = (
                right.filter(rk_c.isNotNull())
                .groupBy(rk_c.alias("__k"))
                .agg(F.count(F.lit(1)).alias("n_right"))
            )
            j = lc.join(rc, "__k", "full_outer").select(
                "__k",
                F.coalesce("n_left", F.lit(0)).alias("n_left"),
                F.coalesce("n_right", F.lit(0)).alias("n_right"),
            )
            tot = j.agg(
                F.sum("n_left").alias("__tl"), F.sum("n_right").alias("__tr")
            )
            share = F.greatest(
                F.try_divide(F.col("n_left").cast("double"), F.col("__tl").cast("double")),
                F.try_divide(F.col("n_right").cast("double"), F.col("__tr").cast("double")),
            )
            hot_rows = (
                j.crossJoin(F.broadcast(tot))
                .withColumn("__share", share)
                .filter(F.col("__share") >= F.lit(float(auto_min_share)))
                .orderBy(F.col("__share").desc(), F.col("__k").cast("string").asc())
                .limit(auto_top_k)
                .select("__k")
                .collect()
            )
            hot_keys = [r["__k"] for r in hot_rows]
        if not hot_keys:
            return left.join(right, cond, how).select(*out_cols)
        # cold filters must be NULL-SAFE: ~isin() is NULL (not true) for
        # a NULL key, which silently dropped NULL-key left rows from the
        # cold branch — invisible for inner/semi (NULL keys never match
        # and vanish from the output anyway) but WRONG for left_anti,
        # where unmatched rows are exactly the output (caught by the
        # round-10 property test). NULL right rows are equally harmless
        # on the cold branch for every supported mode.
        l_hot = left.filter(lk_c.isin(hot_keys))
        l_cold = left.filter(~lk_c.isin(hot_keys) | lk_c.isNull())
        r_hot = right.filter(rk_c.isin(hot_keys))
        r_cold = right.filter(~rk_c.isin(hot_keys) | rk_c.isNull())
    cold = l_cold.join(r_cold, cond, how)
    if semi_anti:
        # the right side of a semi/anti join is only a key-membership
        # set: collapse r_hot to its distinct keys (partial-agg — ~1
        # row per map task per key, bounded by |hot_keys|) and
        # broadcast; the skewed left rows never shuffle, and a hot key
        # with a billion right rows broadcasts as ONE row
        hot = l_hot.join(F.broadcast(r_hot.select(rk_c).distinct()), cond, how)
    elif strategy == "broadcast":
        hot = l_hot.join(F.broadcast(r_hot), cond, "inner")
    else:
        # explode must stay the top-level projection expression (no
        # cast wrapper); int __rsalt vs bigint __lsalt coerces exactly
        r_rep = r_hot.withColumn(
            "__rsalt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        # _salt only reads schema today, but hand it the frame the salt
        # column actually attaches to (round-10 review: fragile if
        # _salt ever inspects more than df.schema)
        l_salted = l_hot.withColumn("__lsalt", _salt(l_hot, salt_buckets, salt_cols))
        hot = l_salted.join(
            r_rep, cond & (F.col("__lsalt") == F.col("__rsalt")), "inner"
        ).drop("__lsalt", "__rsalt")
    return hot.select(*out_cols).unionByName(cold.select(*out_cols))


def join_cardinality_report(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    top_k: int = 5,
) -> DataFrame:
    """Predict an equi-join's output size BEFORE running it — the
    explosion detector that complements join_skew_report (which finds
    hot keys; this prices the whole join): per-key partial counts on
    each side (bounded by each side's DISTINCT keys, with map-side
    combine), joined on the key, output rows per key = n_left *
    n_right. Returns the ``top_k`` contributing keys plus a grand
    TOTAL row (key rendered NULL), so one small result both prices
    the join and names the keys that dominate it — sum(n_left *
    n_right) IS the exact inner-join cardinality, not an estimate,
    at the cost of two key-grouped aggregates instead of the join
    itself (at 100 TB: the aggregates shuffle |distinct keys| rows
    where the join would shuffle every row, and a 10^14-row
    explosion is discovered for the price of a count).

    NULL keys never match in an equi-join, so both sides drop them
    first (they contribute zero rows)."""
    lc = (
        left.filter(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        right.filter(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    from pyspark.storagelevel import StorageLevel

    # persisted: the per-key grid feeds BOTH the top-k and the TOTAL
    # row — unpersisted, each consumer would re-run both key-grouped
    # aggregates and the join (released by the caller's clearCache()
    # after its action, the _ranged posture)
    per_key = (
        lc.join(rc, "key")
        .select(
            "key",
            "n_left",
            "n_right",
            (F.col("n_left") * F.col("n_right")).alias("out_rows"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    top = per_key.orderBy(F.desc("out_rows"), F.asc("key")).limit(top_k)
    total = per_key.agg(
        F.lit(None).cast(per_key.schema["key"].dataType).alias("key"),
        F.sum("n_left").alias("n_left"),
        F.sum("n_right").alias("n_right"),
        F.sum("out_rows").alias("out_rows"),
    )
    return top.unionByName(total)
