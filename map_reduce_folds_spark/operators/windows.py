"""Window-function operators (SURVEY §2.7 GAP: none in the reference).

The reference's nearest concept is the key-dependent fold ``k -> Fold c d``
(reference Core.hs:181); true windows (per-row results over ordered frames)
are new surface.  All helpers take an explicit total order — after a shuffle
Spark guarantees no intra-partition order, so every ordered window needs a
deterministic ORDER BY (include a unique tie-break).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..timeutil import epoch_seconds


def running(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Running (cumulative) aggregates per key: rows unbounded-preceding →
    current.  One shuffle on ``keys``; frames evaluate incrementally.
    Arbitrary agg Columns — for a pathologically hot key use
    :func:`running_keyed` (spec-form algebraic aggs), whose
    ``hot_key_bucket=`` pre-split needs to compose carries across
    buckets and therefore cannot accept opaque expressions."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


def _join_null_safe(
    left: DataFrame, right: DataFrame, cols: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Equi-join on ``cols`` with NULL-SAFE equality (null keys match null
    keys) — a plain column-list join silently DROPS null-key rows, which
    the single-window forms keep as their own group."""
    rr = right
    for c in cols:
        rr = rr.withColumnRenamed(c, f"__ns_{c}")
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__ns_{c}"))
    return left.join(rr, cond, how).drop(*[f"__ns_{c}" for c in cols])


def running_keyed(
    df: DataFrame,
    key: str,
    order_col: str,
    aggs: dict[str, tuple[str, str | None]],
    hot_key_bucket: float | None = None,
) -> DataFrame:
    """Running (inclusive, unbounded-preceding → current) ALGEBRAIC
    aggregates per key: ``aggs`` maps output name → (fn, col) with fn in
    {sum, count, min, max} (count with col=None counts rows).  The spec
    form (vs :func:`running`'s arbitrary Columns) is what makes the
    hot-key pre-split possible: algebraic carries compose across buckets.

    ``hot_key_bucket`` (same escape hatch as sessionize/asof): windows run
    per (key, floor(time/width)); each bucket's carry-in is the exclusive
    running aggregate over per-(key, bucket) summary rows (≤ one per
    non-empty bucket); a row's value = combine(local running, carry) —
    sum/count add, min/max take least/greatest (null-correct: a value is
    null only where the unsplit form's is).  Property-tested equal to the
    unsplit form on 50%-skew data."""
    fns = {"sum": F.sum, "count": None, "min": F.min, "max": F.max}
    for name, (fn, _c) in aggs.items():
        if fn not in fns:
            raise ValueError(f"{name}: fn must be one of {sorted(fns)}")

    def agg_expr(fn: str, col: str | None) -> Column:
        if fn == "count":
            return F.count(F.lit(1) if col is None else F.col(col))
        return fns[fn](col)

    if hot_key_bucket is None:
        w = (
            Window.partitionBy(key).orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df
        for name, (fn, col) in aggs.items():
            out = out.withColumn(name, agg_expr(fn, col).over(w))
        return out
    if hot_key_bucket <= 0:
        raise ValueError("hot_key_bucket must be positive")
    dt = dict(df.dtypes)[order_col]
    tnum = (epoch_seconds(order_col) if dt.startswith("timestamp")
            else F.col(order_col).cast("double"))
    t = df.withColumn("__bk", F.floor(tnum / F.lit(float(hot_key_bucket))))
    w_loc = (
        Window.partitionBy(key, "__bk").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = t
    for name, (fn, col) in aggs.items():
        loc = loc.withColumn(f"__l_{name}", agg_expr(fn, col).over(w_loc))
    summ = t.groupBy(key, "__bk").agg(
        *[agg_expr(fn, col).alias(f"__t_{name}")
          for name, (fn, col) in aggs.items()])
    w_carry = (
        Window.partitionBy(key).orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    carries = summ.select(
        key, "__bk",
        *[carry_fn[fn](f"__t_{name}").over(w_carry).alias(f"__c_{name}")
          for name, (fn, _c) in aggs.items()])
    # null-safe: a null key (or null-order bucket) is a group of its own in
    # the unsplit window form and must survive the join back
    out = _join_null_safe(loc, carries, [key, "__bk"])
    for name, (fn, _c) in aggs.items():
        lcl, cry = F.col(f"__l_{name}"), F.col(f"__c_{name}")
        if fn in ("sum", "count"):
            combined = F.when(
                lcl.isNull() & cry.isNull(), F.lit(None)
            ).otherwise(F.coalesce(lcl, F.lit(0)) + F.coalesce(cry, F.lit(0)))
        elif fn == "min":
            combined = F.least(lcl, cry)
        else:
            combined = F.greatest(lcl, cry)
        out = out.withColumn(name, combined)
    return out.select(*df.columns, *aggs.keys())


def lag_lead(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    col: str,
    lag: int = 1,
) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(f"{col}_lag{lag}", F.lag(col, lag).over(w)).withColumn(
        f"{col}_lead{lag}", F.lead(col, lag).over(w)
    )


def ranked(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    method: str = "row_number",
    out: str = "rank",
) -> DataFrame:
    fns = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank,
           "percent_rank": F.percent_rank, "ntile4": lambda: F.ntile(4)}
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(out, fns[method]().over(w))


def rank_vocab(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    ntile_n: int = 4,
) -> DataFrame:
    """The full SQL rank vocabulary in ONE window pass: row_number, rank,
    dense_rank, percent_rank, cume_dist, ntile(n) — one sort per
    partition, every function rides the same sorted run (Catalyst fuses
    same-window functions into a single Window operator; pinned in
    test_plans).  Ties must be broken by ``order_by`` for row_number /
    ntile determinism — pass a unique tiebreaker column."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.select(
        *df.columns,
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("dense_rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(ntile_n).over(w).alias(f"ntile{ntile_n}"),
    )


def exclusive_bucket_offsets(
    totals: DataFrame,
    bucket_col: str = "__b",
    total_col: str = "__t",
    out_col: str = "__off",
) -> DataFrame:
    """LAZY exclusive prefix sum over per-bucket totals (≤ ~thousands of
    rows): collect_list to ONE row (bounded metadata — an aggregation, not
    a driver collect), running sums via higher-order array functions
    (transform + aggregate over prefixes: O(n_buckets²) element adds,
    trivial at this cardinality), explode back to (bucket, offset) rows.

    No driver-side job, no global-ORDER-BY window: a plan embedding this
    stays PURE — nothing executes at construction time, and re-executing
    the returned DataFrame recomputes offsets from the then-current data,
    so ranks and offsets can never disagree across executions (the
    snapshot hazard of the old collect()-at-build-time form)."""
    arr = totals.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(bucket_col), F.col(total_col)))
        ).alias("__a")
    )
    pref = F.transform(
        F.col("__a"),
        lambda x, i: F.struct(
            x[bucket_col].alias(bucket_col),
            F.aggregate(
                F.slice("__a", F.lit(1), i), F.lit(0).cast("bigint"),
                lambda acc, y: acc + F.coalesce(y[total_col], F.lit(0)),
            ).alias(out_col),
        ),
    )
    return (
        arr.select(F.explode(pref).alias("__s"))
        .select(F.col(f"__s.{bucket_col}").alias(bucket_col),
                F.col(f"__s.{out_col}").alias(out_col))
    )


def ordered_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum_before",
    n_buckets: int = 1024,
) -> DataFrame:
    """EXCLUSIVE running sum of ``value_col`` over the total order of
    ``order_col`` (which must be unique) — WITHOUT the single-task
    ``ORDER BY``-only window that a naive global running sum compiles to.

    Distributed prefix-sum decomposition, fully LAZY (construction runs no
    job; every execution re-derives ranges, ranks, and offsets from the
    same data snapshot):

    1. bucket rows by order-preserving ranges of ``order_col`` (range
       width from a one-row min/max aggregate, broadcast back — uniform
       when ids are dense, the common case for generated ids; skewed
       domains degrade bucket balance, not correctness);
    2. exclusive running sum WITHIN each bucket (windows partitioned by
       bucket — parallel);
    3. per-bucket totals → :func:`exclusive_bucket_offsets` (lazy
       bounded-metadata prefix over ≤ ``n_buckets`` rows) → broadcast-
       joined back;
    4. global prefix = bucket offset + local prefix.

    Same result as ``SUM() OVER (ORDER BY order_col ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING)``, n_buckets-way parallel."""
    stats = df.agg(
        F.min(order_col).cast("bigint").alias("__lo"),
        F.max(order_col).cast("bigint").alias("__hi"),
    ).withColumn(
        "__w",
        F.greatest(F.lit(1).cast("bigint"),
                   ((F.col("__hi") - F.col("__lo")) / F.lit(n_buckets))
                   .cast("bigint") + F.lit(1)),
    )
    tagged = (
        df.crossJoin(F.broadcast(stats))  # one-row stats — broadcast idiom
        .withColumn("__b", ((F.col(order_col) - F.col("__lo")) / F.col("__w"))
                    .cast("bigint"))
        .drop("__lo", "__hi", "__w")
    )
    w = (
        Window.partitionBy("__b").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = tagged.withColumn(
        "__local", F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("bigint")
    )
    totals = tagged.groupBy("__b").agg(F.sum(value_col).alias("__t"))
    off_df = exclusive_bucket_offsets(totals)
    return (
        local.join(F.broadcast(off_df), "__b", "left")
        .withColumn(out_col, F.coalesce(F.col("__off"), F.lit(0)) + F.col("__local"))
        .drop("__b", "__local", "__off")
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    session_col: str = "session_id",
    hot_key_bucket: float | None = None,
) -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the
    previous event (per key) exceeds ``gap_seconds``.  Classic two-window
    composition: lag → gap flag → running sum of flags = session index.
    One shuffle on ``key``.  (Streaming equivalent: F.session_window —
    streaming/ module.)

    ``hot_key_bucket`` — skew escape hatch for a pathologically hot key
    (a bot user holding half the events): a bucket width in SECONDS.  Rows
    are additionally windowed per (key, floor(epoch/width)); the cross-
    bucket session arithmetic is stitched through a per-(key, bucket)
    summary table (≤ one row per non-empty bucket):

    - a bucket's first event starts a new session iff the gap to the
      PREVIOUS bucket's last event exceeds the threshold (``first_flag``,
      computed with one lag over the summary rows);
    - a row's session id = exclusive running sum of earlier buckets'
      session starts + its bucket's first_flag + the running count of
      intra-bucket starts at or before it (excluding the first row, whose
      start decision lives in first_flag).

    Exact same ids as the unsplit form (property-tested on skewed data);
    requires non-null ``ts``.  Cost: one extra shuffle of the summary
    table — use only when one key overflows a partition.
    """
    if hot_key_bucket is not None:
        return _sessionize_split(df, key, ts, gap_seconds, session_col,
                                 hot_key_bucket)
    w = Window.partitionBy(key).orderBy(ts)
    # epoch_seconds tolerates TIMESTAMP and TIMESTAMP_NTZ alike (timeutil)
    gap = epoch_seconds(ts) - F.lag(epoch_seconds(ts)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def _sessionize_split(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    session_col: str,
    hot_key_bucket: float,
) -> DataFrame:
    """Hot-key pre-split body of :func:`sessionize` (``hot_key_bucket=``)."""
    if hot_key_bucket <= 0:
        raise ValueError("hot_key_bucket must be positive")
    es = epoch_seconds(ts)
    t = df.withColumn("__es", es).withColumn(
        "__bk", F.floor(F.col("__es") / F.lit(float(hot_key_bucket))))
    w_loc = Window.partitionBy(key, "__bk").orderBy("__es")
    # intra-bucket starts; a bucket's FIRST row contributes 0 here — its
    # start decision needs the previous bucket's last event (first_flag)
    lag_local = F.lag("__es").over(w_loc)
    is_new_rest = F.when(
        lag_local.isNotNull() & (F.col("__es") - lag_local > gap_seconds), 1
    ).otherwise(0)
    loc = t.withColumn("__new_rest", is_new_rest).withColumn(
        "__cum_rest",
        F.sum(is_new_rest).over(
            w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    summ = loc.groupBy(key, "__bk").agg(
        F.min("__es").alias("__first"),
        F.max("__es").alias("__last"),
        F.sum("__new_rest").alias("__rest_total"),
    )
    # summary rows exist only for non-empty buckets, so lag(__last) IS the
    # key's previous event time — no empty-bucket gaps to skip over
    w_s = Window.partitionBy(key).orderBy("__bk")
    prev_last = F.lag("__last").over(w_s)
    first_flag = F.when(
        prev_last.isNull() | (F.col("__first") - prev_last > gap_seconds), 1
    ).otherwise(0)
    summ2 = summ.withColumn("__ff", first_flag).withColumn(
        "__off",
        F.coalesce(
            F.sum(F.col("__ff") + F.col("__rest_total")).over(
                w_s.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    return (
        _join_null_safe(loc, summ2.select(key, "__bk", "__ff", "__off"),
                        [key, "__bk"])
        .withColumn(session_col,
                    (F.col("__off") + F.col("__ff") + F.col("__cum_rest"))
                    .cast("bigint"))
        .select(*df.columns, session_col)
    )


def funnel_depth(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
    tiebreak_col: str | None = None,
    within: int | None = None,
) -> DataFrame:
    """Per-user funnel depth: how many of ``steps`` each user completed
    IN ORDER (greedy subsequence match over the user's time-ordered
    events) — the product-analytics conversion funnel, e.g.
    ``["view", "click", "purchase"]`` → depth 0..3.

    Only FUNNEL-STEP events are collected: the ``isin(steps)`` filter
    sits before the groupBy (and pushes into the parquet scan), so the
    per-user array is bounded by the user's STEP events, never their
    whole stream — a bot with 10⁷ pageloads but 3 step events costs a
    3-element array, not a 10⁷-element row (the same unbounded-group
    discipline as ``sessionize(hot_key_bucket=)``).  Non-step events
    map to index 0 in the fold and can never advance it, so the result
    is provably invariant under the filter; users with ZERO step events
    are restored as depth 0 from the distinct-user set (null-safe join,
    both sides hash-partitioned on the user key).

    Within each user the step events fold in a SORTED (ts, tiebreak)
    array — deterministic under any partitioning, the same discipline as
    the PSI/log-prob sorted folds.  Events are pre-mapped to their
    1-based step index, so the fold state is integers and the whole
    match is one Catalyst ``aggregate`` — exactly SQL-mirrorable (see
    queries: funnel_conversion).  Greedy matching: an event advances the
    funnel iff it is exactly the next needed step; repeats and
    out-of-order steps are ignored (standard strict-order semantics).

    ``within``: optional horizon in MICROSECONDS — step k counts only if
    it occurs ≤ ``within`` µs after the matched step k−1 (the first step
    is unconstrained).  Greedy with a time window: a too-late step k is
    skipped and the funnel waits at k−1 for a later in-horizon
    occurrence.  The fold state becomes (depth, last-step time) — still
    all-integer, still one ``aggregate``."""
    from map_reduce_folds_spark.timeutil import epoch_us

    if len(set(steps)) != len(steps):
        raise ValueError(
            f"funnel steps must be distinct, got {steps}: the step-index "
            "pre-mapping assigns each event type ONE index, so a repeated "
            "step type could never match its second occurrence")
    idx = F.lit(0)
    for i, step in reversed(list(enumerate(steps))):
        idx = F.when(F.col(event_col) == step, F.lit(i + 1)).otherwise(idx)
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    ev = F.struct(
        epoch_us(F.col(ts_col)).alias("t"), tb.alias("b"),
        idx.cast("int").alias("i"),
    )
    arr = F.array_sort(F.collect_list(ev))
    if within is None:
        depth = F.aggregate(
            F.transform(arr, lambda s: s["i"]), F.lit(0),
            lambda acc, i: F.when(i == acc + 1, acc + 1).otherwise(acc),
        )
    else:
        zero = F.struct(F.lit(0).cast("int").alias("d"),
                        F.lit(0).cast("bigint").alias("t"))
        advance = lambda acc, s: F.when(  # noqa: E731
            (s["i"] == acc["d"] + 1)
            & ((acc["d"] == 0) | (s["t"] - acc["t"] <= F.lit(int(within)))),
            F.struct((acc["d"] + 1).alias("d"), s["t"].alias("t")),
        ).otherwise(acc)
        depth = F.aggregate(arr, zero, advance)["d"]
    depths = (
        df.where(F.col(event_col).isin(steps))
        .groupBy(user_col).agg(depth.cast("int").alias("depth"))
    )
    users = df.select(user_col).distinct()
    return _join_null_safe(users, depths, [user_col], "left").select(
        user_col, F.coalesce(F.col("depth"), F.lit(0)).cast("int")
        .alias("depth"))


def scd2_history(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build from a change log: collapse
    each key's time-ordered stream into RUNS of equal ``value_col`` and
    emit one row per run with its validity range — the standard
    dimension-history table (``valid_to`` is NULL for the current run).

    Reference analog: none (the reference's fold algebra has no temporal
    dimension ops); this is north-star warehouse surface.

    Plan shape: change detection is one ``lag`` + running ``sum`` over
    the per-key (ts, tiebreak) window — a single shuffle on ``key``,
    never a global order (the ``sessionize`` discipline); runs then
    aggregate map-side-combinably and ``valid_to`` is a per-key ``lead``
    over the run table (tiny: one row per CHANGE, not per event).  At
    100 TB the run table is bounded by the number of value changes — the
    compression IS the operator.

    NULL values participate: a run of NULLs is a run (null-safe change
    compare), matching warehouse semantics where "attribute unknown" is
    itself a tracked state.  Output: ``(key, version, value, valid_from,
    valid_to, n_events)`` with ``version`` numbered 1.. per key in time
    order."""
    tb = [F.col(tiebreak_col)] if tiebreak_col else []
    w = Window.partitionBy(key).orderBy(F.col(ts_col), *tb)
    prev = F.lag(F.col(value_col)).over(w)
    first = F.row_number().over(w) == 1
    chg = (first | ~prev.eqNullSafe(F.col(value_col))).cast("int")
    runs = (
        df.withColumn("__v", F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(key, F.col("__v").alias("version"))
        .agg(F.min(F.struct(F.col(ts_col), *tb)).getField(ts_col)
             .alias("valid_from"),
             # value is CONSTANT within a run by construction; min() is the
             # deterministic (and SQL-mirrorable) way to read it out
             F.min(value_col).alias(value_col),
             F.count(F.lit(1)).alias("n_events"))
    )
    wv = Window.partitionBy(key).orderBy("version")
    return runs.select(
        key, F.col("version").cast("bigint").alias("version"), value_col,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )


def resample_fill_forward(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    bucket_us: int = 3_600_000_000,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key time-series resampling with forward fill: bucket events
    into fixed ``bucket_us``-microsecond intervals, emit EVERY bucket
    from the key's first to its last event, and carry the last observed
    ``value_col`` across gap buckets — the gap-filling step before any
    per-interval aggregation or as-of feature join.

    Plan shape: one per-(key, bucket) aggregation picks the bucket's
    LAST observation deterministically (max over (ts, tiebreak) structs
    — the ``last_by`` fold); the dense grid is a per-key
    ``sequence``/``explode`` (bounded by the key's time span over the
    resolution — the inherent output size of resampling, NOT a join
    explosion); the fill is ``last(ignorenulls)`` over the per-key
    bucket window.  Two shuffles on ``key``, no global order.  Output:
    ``(key, bucket, value, n_obs)`` where ``n_obs=0`` marks filled gap
    rows and ``bucket`` is the epoch-microsecond bucket index.

    NULL discipline (deliberate asymmetry with ``scd2_history``, which
    tracks NULL as a state): a bucket whose last observation is NULL
    still counts in ``n_obs`` but the forward fill carries the previous
    NON-NULL value across it — resampling answers "what was the level
    here", and an unknown reading does not reset the level.  Use
    ``n_obs`` to distinguish observed-but-NULL buckets from gaps."""
    from ..timeutil import epoch_us

    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    b = (epoch_us(F.col(ts_col)) / F.lit(int(bucket_us))).cast("bigint")
    obs = (
        df.groupBy(F.col(key).alias(key), b.alias("bucket"))
        .agg(F.max(F.struct(epoch_us(F.col(ts_col)).alias("t"),
                            tb.alias("b"),
                            F.col(value_col).alias("v")))
             .getField("v").alias("__obs"),
             F.count(F.lit(1)).alias("n_obs"))
    )
    grid = (
        obs.groupBy(key)
        .agg(F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi"))
        .select(key, F.explode(F.sequence(F.col("__lo"), F.col("__hi")))
                .alias("bucket"))
    )
    wf = Window.partitionBy(key).orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(obs, [key, "bucket"], "left")
        .select(key, "bucket",
                F.last("__obs", ignorenulls=True).over(wf).alias(value_col),
                F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
                .alias("n_obs"))
    )


def ewma_last(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    alpha_halves: int = 1,
) -> DataFrame:
    """Per-key exponentially weighted moving average, CURRENT value: fold
    each key's events in event-time order through
    ``ewma ← α·x + (1−α)·ewma`` (seeded with the first observation) and
    emit the final smoothed value — the state a monitoring/feature
    pipeline carries per entity.  One row per key.

    ``α = 1/2^alpha_halves`` ON PURPOSE: multiplying a double by a power
    of two is EXACT (exponent arithmetic, no mantissa rounding), so the
    only rounding in the fold is the addition — and the fold order is
    pinned by the sorted ``(ts, tiebreak, value)`` array, making the
    result bitwise-portable across engines the same way the PSI/entropy
    sorted folds are.  An arbitrary decay like 0.9 would round at every
    multiply and still be portable, but the power-of-two choice keeps
    the arithmetic exact-by-construction and documents itself.

    Shape: ONE groupBy(key) with a per-key sorted-array fold — the
    per-key array is bounded by that key's event count (the
    sessionize/funnel per-key discipline); no global order anywhere.

    Output: ``(key, n_events, ewma)``."""
    if alpha_halves < 1:
        raise ValueError(f"alpha_halves must be >= 1, got {alpha_halves}")
    alpha = 1.0 / (1 << alpha_halves)
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    from ..timeutil import epoch_us

    rows = F.array_sort(F.collect_list(F.struct(
        epoch_us(F.col(ts_col)).alias("t"),
        tb.alias("b"),
        F.col(value_col).cast("double").alias("x"))))
    init = F.struct(F.lit(0).cast("bigint").alias("n"),
                    F.lit(0.0).alias("e"))
    step = lambda acc, r: F.struct(  # noqa: E731 — fold step
        (acc["n"] + 1).alias("n"),
        F.when(acc["n"] == 0, r["x"])
        .otherwise(F.lit(alpha) * r["x"]
                   + F.lit(1.0 - alpha) * acc["e"]).alias("e"))
    return (
        df.groupBy(key)
        .agg(F.aggregate(rows, init, step).alias("acc"))
        .select(key,
                F.col("acc")["n"].alias("n_events"),
                F.col("acc")["e"].alias("ewma"))
    )


def ewma_last_sql(
    src: str,
    key: str,
    ts_expr: str,
    value_expr: str,
    tiebreak_expr: str = "0",
    alpha_halves: int = 1,
) -> str:
    """DuckDB mirror of :func:`ewma_last` (same sorted fold, same
    power-of-two arithmetic).  ``1 − α`` is exact for any
    ``alpha_halves`` (both are powers of two scaled sums below 1)."""
    alpha = 1.0 / (1 << alpha_halves)
    return f"""
    WITH rows_ AS (
        SELECT {key} AS k,
               {{'t': epoch_us({ts_expr}), 'b': {tiebreak_expr},
                 'x': CAST({value_expr} AS DOUBLE)}} AS r
        FROM {src}
    ),
    folded AS (
        SELECT k, list_reduce(
                   list_prepend({{'n': CAST(0 AS BIGINT),
                                  'e': CAST(0.0 AS DOUBLE)}},
                                list_sort(list(r))
                                .apply(s -> {{'n': CAST(1 AS BIGINT),
                                              'e': s.x}})),
                   (acc, x) -> {{'n': acc.n + x.n,
                                 'e': CASE WHEN acc.n = 0 THEN x.e
                                      ELSE {alpha!r} * x.e
                                           + {1.0 - alpha!r} * acc.e
                                      END}}) AS acc
        FROM rows_ GROUP BY k
    )
    SELECT k AS {key}, CAST(acc.n AS BIGINT) AS n_events,
           CAST(acc.e AS DOUBLE) AS ewma
    FROM folded
    """


def holt_last(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    alpha_halves: int = 2,
    beta_halves: int = 2,
    horizon: int = 1,
) -> DataFrame:
    """Per-key HOLT double-exponential smoothing (level + trend), CURRENT
    state: fold each key's events in event-time order through

    .. code-block:: text

        l' = α·x + (1−α)·(l + b)        (level: smoothed position)
        b' = β·(l' − l) + (1−β)·b       (trend: smoothed velocity)

    seeded ``(l, b) = (x₁, 0)``, and emit the final ``(level, trend)``
    plus the ``horizon``-step-ahead forecast ``level + h·trend`` — the
    drifting-signal upgrade of :func:`ewma_last` (EWMA lags a trending
    series by design; Holt tracks the slope).  One row per key.

    Same exactness discipline as :func:`ewma_last`: ``α = 1/2^a`` and
    ``β = 1/2^c`` make every decay multiply exact (exponent arithmetic)
    and the fold order is pinned by the sorted ``(ts, tiebreak, value)``
    array — bitwise-portable.

    CONTRACT FORM: the trend update is the expanded
    ``b' = β·(α·(x − l) + (1−α)·b) + (1−β)·b`` (the identity
    ``l' − l = α·(x−l) + (1−α)·b`` substituted), evaluated in exactly
    this operation order by both engines; the last-ulp difference vs
    the textbook ``β·(l'−l)`` form is part of the operator's contract.
    The DuckDB mirror walks the series via a RECURSIVE CTE rather than
    the EWMA-style ``list_reduce`` fold: DuckDB 1.0 mis-evaluates a
    multi-float struct accumulator (some steps read the
    already-updated level when computing the trend — the same engine-
    hazard family the CUSUM oracle routed around); see
    :func:`holt_last_sql`.

    Shape: ONE groupBy(key) with a per-key sorted-array fold (bounded by
    that key's event count — the sessionize/funnel per-key discipline);
    no global order anywhere.

    Output: ``(key, n_events, level, trend, forecast)``."""
    if alpha_halves < 1 or beta_halves < 1:
        raise ValueError(
            f"alpha_halves/beta_halves must be >= 1, got "
            f"{alpha_halves}/{beta_halves}")
    alpha = 1.0 / (1 << alpha_halves)
    beta = 1.0 / (1 << beta_halves)
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    from ..timeutil import epoch_us

    rows = F.array_sort(F.collect_list(F.struct(
        epoch_us(F.col(ts_col)).alias("t"),
        tb.alias("b"),
        F.col(value_col).cast("double").alias("x"))))
    init = F.struct(F.lit(0).cast("bigint").alias("n"),
                    F.lit(0.0).alias("l"),
                    F.lit(0.0).alias("tr"))

    step = lambda acc, r: F.struct(  # noqa: E731 — fold step
        (acc["n"] + 1).alias("n"),
        F.when(acc["n"] == 0, r["x"])
        .otherwise(F.lit(alpha) * r["x"]
                   + F.lit(1.0 - alpha)
                   * (acc["l"] + acc["tr"])).alias("l"),
        F.when(acc["n"] == 0, F.lit(0.0))
        .otherwise(F.lit(beta)
                   * (F.lit(alpha) * (r["x"] - acc["l"])
                      + F.lit(1.0 - alpha) * acc["tr"])
                   + F.lit(1.0 - beta) * acc["tr"]).alias("tr"))
    return (
        df.groupBy(key)
        .agg(F.aggregate(rows, init, step).alias("acc"))
        .select(key,
                F.col("acc")["n"].alias("n_events"),
                F.col("acc")["l"].alias("level"),
                F.col("acc")["tr"].alias("trend"),
                (F.col("acc")["l"]
                 + F.lit(float(horizon)) * F.col("acc")["tr"])
                .alias("forecast"))
    )


def holt_last_sql(
    src: str,
    key: str,
    ts_expr: str,
    value_expr: str,
    tiebreak_expr: str = "0",
    alpha_halves: int = 2,
    beta_halves: int = 2,
    horizon: int = 1,
) -> str:
    """DuckDB mirror of :func:`holt_last` — a RECURSIVE CTE walks each
    key's event-time-ordered series one step at a time, applying the
    identical expanded updates.

    Why not the ``list_reduce`` sorted-fold the EWMA mirror uses:
    DuckDB 1.0 MIS-EVALUATES a multi-float struct accumulator —
    measured on real series, some (not all!) steps compute the ``tr``
    field against the already-updated ``l`` (sequential in-place
    mutation) instead of the incoming accumulator; a single-float state
    (EWMA) is immune.  The recursive CTE has unambiguous sequential
    semantics: one row per (key, step), each step joins exactly its
    predecessor.  Recursion depth = the longest per-key series (fine
    for an oracle; Spark's per-key fold is the scale path)."""
    alpha = 1.0 / (1 << alpha_halves)
    beta = 1.0 / (1 << beta_halves)
    return f"""
    WITH RECURSIVE rows_ AS (
        SELECT {key} AS k,
               row_number() OVER (
                   PARTITION BY {key}
                   ORDER BY epoch_us({ts_expr}), {tiebreak_expr},
                            CAST({value_expr} AS DOUBLE)) AS i,
               CAST({value_expr} AS DOUBLE) AS x
        FROM {src}
    ),
    step AS (
        SELECT k, i, x AS l, CAST(0.0 AS DOUBLE) AS tr
        FROM rows_ WHERE i = 1
        UNION ALL
        SELECT r.k, r.i,
               {alpha!r} * r.x + {1.0 - alpha!r} * (s.l + s.tr),
               {beta!r} * ({alpha!r} * (r.x - s.l)
                           + {1.0 - alpha!r} * s.tr)
               + {1.0 - beta!r} * s.tr
        FROM step s JOIN rows_ r ON r.k = s.k AND r.i = s.i + 1
    ),
    fin AS (SELECT k, MAX(i) AS n FROM rows_ GROUP BY k)
    SELECT s.k AS {key}, CAST(f.n AS BIGINT) AS n_events,
           CAST(s.l AS DOUBLE) AS level,
           CAST(s.tr AS DOUBLE) AS trend,
           CAST(s.l + {float(horizon)!r} * s.tr AS DOUBLE) AS forecast
    FROM step s JOIN fin f ON f.k = s.k AND s.i = f.n
    """


def rolling_median_cents(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    range_us: int = 3_600_000_000,
    scale: int = 100,
    carry: Sequence[str] = (),
) -> DataFrame:
    """EXACT rolling median of ``value_col`` over a trailing event-time
    RANGE window per key — the robust twin of the trailing-hour moving
    average (``window_time_range``), for monitoring feeds where a single
    spike must not drag the smoothed level.

    Numeric policy: the value is fixed-pointed to integer "cents"
    (``CAST(value AS DECIMAL(12,2)) * scale``) BEFORE windowing, so the
    sorted frame holds bigints and the median is pure integer selection
    plus one terminal ``(lo + hi) / 2.0`` — exact for odd frames
    (``lo == hi``) and a single well-defined rounding for even ones,
    identical in any engine.  Output ``med_cents`` is in cents.

    NULL discipline: NULL values are EXCLUDED from the frame
    (``collect_list`` skips them) but the carrying row still emits —
    mirror with ``list(...) FILTER (WHERE x IS NOT NULL)`` in SQL
    engines whose ``list`` keeps NULLs.

    Plan shape: ONE window pass (partition by key, order by epoch
    micros, value-defined RANGE frame — order-deterministic under ties);
    the frame's values ride ``collect_list``/``array_sort``, bounded by
    events-per-``range_us``-per-key, NOT by partition size.  At cluster
    scale a hot key with millions of events per window would need a
    pre-aggregated histogram sketch instead (``sketches.hist_quantile``)
    — this operator is the exact-answer path.
    """
    from ..timeutil import epoch_us

    cents = (F.col(value_col).cast("decimal(12,2)") * scale).cast("bigint")
    w = (
        Window.partitionBy(key).orderBy(epoch_us(F.col(ts_col)))
        .rangeBetween(-int(range_us), Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(cents).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    return df.select(
        *carry, key,
        n.cast("bigint").alias("n_win"),
        ((lo + hi) / F.lit(2.0)).alias("med_cents"),
    )


def group_percentiles_nearest_rank(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    qs: Sequence[int] = (50, 95),
) -> DataFrame:
    """Exact nearest-rank percentiles per group WITHOUT collecting the
    group into one row: rank every value with ``row_number`` over the
    (keys, value) sort, attach the group size, and keep only the rows
    whose rank equals ``ceil(q·n/100)`` (computed in INTEGER arithmetic:
    ``(q·n + 99) // 100`` — no float index, no interpolation).  The
    selection is the classic distributed order-statistic plan: one sort
    shuffle on the group key, then a same-pass filter — group size never
    has to fit in a single array, unlike a sorted-``collect_list``
    median.  Ties are deterministic by value: equal values are
    interchangeable at the same rank, so the picked VALUE is unique even
    though row_number is not.

    Output: one row per group — ``n``, ``p{q}`` for each requested q,
    and ``vmax`` (the q=100 pick).
    """
    if not all(isinstance(q, int) and 0 < q <= 100 for q in qs):
        raise ValueError(f"qs must be integers in (0, 100], got {qs!r}")
    wo = Window.partitionBy(*keys).orderBy(value_col)
    wn = Window.partitionBy(*keys)
    v = F.col(value_col)
    base = df.select(
        *keys, v.alias("__v"),
        F.row_number().over(wo).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    # ceil(q·n/100) via `div` — INTEGER division end-to-end (a double
    # divide-then-floor can land one below the true index when q·n+99
    # is an exact multiple of 100)
    idx = {q: F.expr(f"(__n * {q} + 99) div 100") for q in qs}
    keep = F.col("__rn") == F.col("__n")
    for q in qs:
        keep = keep | (F.col("__rn") == idx[q])
    picked = base.where(keep)
    aggs = [F.max("__n").alias("n")]
    aggs += [F.max(F.when(F.col("__rn") == idx[q], F.col("__v")))
             .alias(f"p{q}") for q in qs]
    aggs += [F.max(F.when(F.col("__rn") == F.col("__n"), F.col("__v")))
             .alias("vmax")]
    return picked.groupBy(*keys).agg(*aggs)


def group_percentiles_hist(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    qs: Sequence[int] = (50, 95),
    nbuckets: int = 8192,
) -> DataFrame:
    """Exact nearest-rank percentiles per group via HISTOGRAM REFINEMENT
    — pick-for-pick identical to :func:`group_percentiles_nearest_rank`
    (property-tested) but with NO per-group global sort, so low-key-
    cardinality groups don't serialize into one task at 100 TB.

    The single-sort form partitions the row_number window by the group
    key: a 5-type corpus sorts each type's entire delta stream in ONE
    task regardless of cluster size.  Here the selection is the classic
    two-pass distributed order statistic over integer domains:

    1. per-group ``(min, max, n)`` — one map-side-combinable agg;
    2. integer-bucket every value (``(v − lo) div width``, width =
       ``(hi − lo) div nbuckets + 1`` so indices stay < nbuckets) and
       count per (group, bucket) — map-side-combinable, full
       parallelism;
    3. a cumulative pass over the TINY (group, bucket, count) relation
       (≤ |groups|·nbuckets rows) locates, for each q, the bucket
       holding global rank ``ceil(q·n/100)`` and the residual rank
       within it;
    4. rank-select ONLY that bucket's residents — each (group, q) task
       sorts ~n/nbuckets rows instead of n.

    Exactness: rows below the target bucket number exactly ``cum_prev``,
    so the residual rank inside the bucket addresses the same global
    order statistic; equal values are interchangeable at a rank, so the
    picked VALUE is unique (same argument as the single-sort form).
    All arithmetic is integer (`div`), no float index.  NULL values are
    excluded (the portable-median policy — see mad_outliers).

    Output schema matches group_percentiles_nearest_rank: one row per
    group — ``n``, ``p{q}`` per requested q, ``vmax``."""
    if not all(isinstance(q, int) and 0 < q <= 100 for q in qs):
        raise ValueError(f"qs must be integers in (0, 100], got {qs!r}")
    base = (df.select(*keys, F.col(value_col).alias("__v"))
            .where(F.col("__v").isNotNull())
            # three consumers (stats, counts, resident pick) — cut the
            # lineage ONCE at the narrowest projection so the (possibly
            # expensive) upstream computes a single time; everything
            # below is a cheap narrow scan of the materialized rows
            .localCheckpoint(eager=False))
    stats = base.groupBy(*keys).agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi"),
        F.count(F.lit(1)).alias("__n"))
    # width > (hi-lo)/nbuckets  ⇒  bucket index (v-lo) div width < nbuckets
    # stats/targets joins are BROADCAST: one row per group, and this
    # operator targets low-key-cardinality groups — a hash shuffle on the
    # group key would have parallelism = |groups|, re-creating exactly
    # the serialization the histogram form exists to avoid.  The big
    # relation is never shuffled at all: both aggs are map-side partial
    # + tiny final, the pick join is broadcast, and the pick window's
    # partitions hold only target-bucket residents (~n/nbuckets rows).
    j = (base.join(F.broadcast(stats), list(keys))
         .withColumn("__b", F.expr(f"(__v - __lo) div "
                                   f"((__hi - __lo) div {int(nbuckets)} + 1)"))
         .select(*keys, "__v", "__b"))
    counts = j.groupBy(*keys, "__b").agg(F.count(F.lit(1)).alias("__c"))
    wcum = Window.partitionBy(*keys).orderBy("__b") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.select(
        *keys, "__b",
        (F.sum("__c").over(wcum) - F.col("__c")).alias("__below"),
        F.sum("__c").over(wcum).alias("__cum"))
    qarr = F.array(*[F.lit(int(q)) for q in qs])
    targets = (
        cum.join(stats.select(*keys, "__n"), list(keys))
        .select(*keys, "__b", "__below", "__cum", "__n",
                F.explode(qarr).alias("__q"))
        .withColumn("__idx", F.expr("(__n * __q + 99) div 100"))
        .where((F.col("__below") < F.col("__idx"))
               & (F.col("__idx") <= F.col("__cum")))
        .select(*keys, "__b", "__q",
                (F.col("__idx") - F.col("__below")).alias("__rr"))
    )
    wpick = Window.partitionBy(*keys, "__q").orderBy("__v")
    picked = (
        j.join(F.broadcast(targets), [*keys, "__b"])
        .withColumn("__rn", F.row_number().over(wpick))
        .where(F.col("__rn") == F.col("__rr"))
    )
    aggs = [F.max(F.when(F.col("__q") == int(q), F.col("__v")))
            .alias(f"p{q}") for q in qs]
    return (
        stats.join(picked.groupBy(*keys).agg(*aggs), list(keys), "left")
        .select(*keys, F.col("__n").alias("n"),
                *[f"p{q}" for q in qs], F.col("__hi").alias("vmax"))
    )


def cusum_per_key(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    target_cents: int,
    alarm_cents: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One-sided CUSUM change detection per key — the classic
    upward-shift monitor: over each key\'s events in event-time order,
    ``s ← max(0, s + (x − target))``, counting ALARMS (upward crossings
    of ``alarm_cents``).  Page\'s cumulative-sum detector flags a
    sustained drift above ``target`` long before any windowed mean
    moves.

    NOT a sequential fold: the clamped recurrence has the closed form
    ``s_t = P_t − min(0, min_{j≤t} P_j)`` where ``P`` is the running sum
    of ``x − target`` — so the whole detector is running-sum +
    running-min + lag windows over ONE per-key sort.  No per-key array
    (the sorted-``collect_list`` folds are bounded by events-per-key;
    this is not), no Python, and the oracle mirrors the identical
    windows.  ALL-INTEGER arithmetic: values fixed-pointed to cents
    first, so every expression is exact — bitwise-portable by
    construction.  A crossing counts once per excursion (the state must
    return to ``alarm_cents`` or below before a new alarm can fire).

    Output per key: ``n_events``, ``final_cusum``, ``max_cusum``,
    ``n_alarms`` (cents units)."""
    from ..timeutil import epoch_us

    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    t = epoch_us(F.col(ts_col))
    wo = Window.partitionBy(key).orderBy(t, tb)
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zero = F.lit(0).cast("bigint")
    p_ = F.sum(cents - F.lit(int(target_cents))).over(wrun)
    s_ = p_ - F.least(zero, F.min(p_).over(wrun))
    h = F.lit(int(alarm_cents)).cast("bigint")
    prev = F.lag(s_, 1, 0).over(wo)
    staged = df.select(
        F.col(key),
        s_.alias("__s"),
        ((prev <= h) & (s_ > h)).cast("bigint").alias("__alarm"),
        F.struct(t.alias("t"), tb.alias("b"), s_.alias("v")).alias("__lastp"),
    )
    return staged.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("__lastp").getField("v").alias("final_cusum"),
        F.max("__s").alias("max_cusum"),
        F.sum("__alarm").alias("n_alarms"),
    )


def cusum_sql(
    src: str,
    key: str,
    ts_expr: str,
    value_expr: str,
    target_cents: int,
    alarm_cents: int,
    tiebreak_expr: str = "0",
) -> str:
    """DuckDB mirror of :func:`cusum_per_key` — the same closed-form
    prefix windows (running sum, running min, lag), all-integer."""
    k, h = int(target_cents), int(alarm_cents)
    return f"""
    WITH base AS (
        SELECT {key} AS k, epoch_us({ts_expr}) AS t,
               {tiebreak_expr} AS b,
               CAST(CAST({value_expr} AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS x
        FROM {src}
    ),
    pfx AS (
        SELECT k, t, b,
               SUM(x - {k}) OVER w AS p
        FROM base
        WINDOW w AS (PARTITION BY k ORDER BY t, b
                     ROWS UNBOUNDED PRECEDING)
    ),
    st AS (
        SELECT k, t, b,
               p - LEAST(CAST(0 AS BIGINT), MIN(p) OVER w) AS s
        FROM pfx
        WINDOW w AS (PARTITION BY k ORDER BY t, b
                     ROWS UNBOUNDED PRECEDING)
    ),
    fl AS (
        SELECT k, s,
               CASE WHEN LAG(s, 1, CAST(0 AS BIGINT))
                             OVER (PARTITION BY k ORDER BY t, b) <= {h}
                         AND s > {h} THEN 1 ELSE 0 END AS alarm,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY t DESC, b DESC)
                   AS rdesc
        FROM st
    )
    SELECT k AS {key}, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rdesc = 1 THEN s END) AS BIGINT)
               AS final_cusum,
           CAST(MAX(s) AS BIGINT) AS max_cusum,
           CAST(SUM(alarm) AS BIGINT) AS n_alarms
    FROM fl GROUP BY k
    """


def multi_touch_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    value_col: str,
    conversion: str,
    touch_types: "Sequence[str]",
    within_us: int = 3_600_000_000,
    tiebreak_col: str | None = None,
    micro: int = 1000,
) -> DataFrame:
    """LINEAR multi-touch attribution, EXACT: each conversion's value
    splits evenly across its preceding touch events within the lookback
    window; conversions with no touches fall into a ``direct`` bucket.
    The marketing-analytics upgrade of single-touch interval_join
    attribution.

    DETERMINISTIC INTEGER ACCOUNTING — the reason this row can sit
    under a hash-exact oracle: value fixed-points to cents·``micro``
    integer units; each of a conversion's ``k`` touches receives
    ``units // k`` (floor) and the LAST touch (max ts, tiebreak) also
    receives the remainder ``units % k`` — so per-conversion credit
    sums EXACTLY to the conversion's value, group totals are integer
    sums (no float summation order anywhere), and the split is
    conserved by construction (k·floor + rem ≡ units).

    Shape: touch and conversion streams filter BEFORE the join (both
    pushed into the scan); candidates form via the per-user equi-join
    with a range predicate ``conv.ts − within < touch.ts ≤ conv.ts``
    (the per-key discipline: a user's touches × conversions, never
    cross-user), k and the last-touch rank via one window over the
    conversion id.  Output: per touch event type (plus ``direct``) —
    ``(touch_type, n_touches, attributed_micro)``; divide by
    ``100·micro`` for currency units.

    ``tiebreak_col`` is REQUIRED and must uniquely identify a
    conversion within (user, ts): the per-conversion window partitions
    by (user, ts, tiebreak), so two same-instant conversions without a
    distinct tiebreak would collapse into one partition — double-
    counted k, broken conservation, engine-dependent remainder
    placement.  (The SQL mirror carries the same contract.)"""
    if not tiebreak_col:
        raise ValueError(
            "multi_touch_attribution: tiebreak_col is required — it is "
            "the unique per-conversion identity (e.g. an event id); "
            "same-instant conversions would otherwise merge")
    tb = F.col(tiebreak_col)
    from ..timeutil import epoch_us

    units = (F.col(value_col).cast("decimal(12,2)") * 100
             ).cast("bigint") * F.lit(int(micro))
    conv = (df.where(F.col(event_col) == conversion)
            .select(F.col(user_col).alias("__u"),
                    epoch_us(F.col(ts_col)).alias("__ct"),
                    tb.alias("__cb"),
                    units.alias("__units")))
    touch = (df.where(F.col(event_col).isin(list(touch_types)))
             .select(F.col(user_col).alias("__u"),
                     epoch_us(F.col(ts_col)).alias("__tt"),
                     tb.alias("__tb"),
                     F.col(event_col).alias("__ttype")))
    cand = conv.join(touch, "__u").where(
        (F.col("__tt") <= F.col("__ct"))
        & (F.col("__tt") > F.col("__ct") - F.lit(int(within_us))))
    wk = Window.partitionBy("__u", "__ct", "__cb")
    wr = wk.orderBy(F.col("__tt").desc(), F.col("__tb").desc())
    credited = (
        cand.select(
            "__ttype", "__units",
            F.count(F.lit(1)).over(wk).alias("__k"),
            F.row_number().over(wr).alias("__r"))
        .select(
            "__ttype",
            (F.expr("__units div __k")
             + F.when(F.col("__r") == 1, F.col("__units") % F.col("__k"))
             .otherwise(F.lit(0).cast("bigint"))).alias("__credit"))
    )
    attributed = credited.groupBy(F.col("__ttype").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("__credit").cast("bigint").alias("attributed_micro"))
    direct = (
        conv.join(cand.select("__u", "__ct", "__cb").distinct(),
                  ["__u", "__ct", "__cb"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_touches"),
             F.coalesce(F.sum("__units"), F.lit(0)).cast("bigint")
             .alias("attributed_micro"))
        .select(F.lit("direct").alias("touch_type"),
                "n_touches", "attributed_micro")
        .where(F.col("n_touches") > 0)
    )
    return attributed.unionByName(direct)


def multi_touch_attribution_sql(
    src: str,
    user_expr: str,
    ts_expr: str,
    event_expr: str,
    value_expr: str,
    conversion: str,
    touch_types: "Sequence[str]",
    within_us: int = 3_600_000_000,
    tiebreak_expr: str = "0",
    micro: int = 1000,
) -> str:
    """DuckDB mirror of :func:`multi_touch_attribution` — identical
    integer accounting (``//`` floor division on non-negative units ≡
    Spark ``div``), window ranks, and direct-bucket anti-join."""
    tt = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
    WITH conv AS (
        SELECT {user_expr} AS u, epoch_us({ts_expr}) AS ct,
               {tiebreak_expr} AS cb,
               CAST(CAST({value_expr} AS DECIMAL(12,2)) * 100 AS BIGINT)
                   * {int(micro)} AS units
        FROM {src} WHERE {event_expr} = '{conversion}'
    ),
    touch AS (
        SELECT {user_expr} AS u, epoch_us({ts_expr}) AS tt,
               {tiebreak_expr} AS tb, {event_expr} AS ttype
        FROM {src} WHERE {event_expr} IN ({tt})
    ),
    cand AS (
        SELECT c.*, t.tt, t.tb, t.ttype
        FROM conv c JOIN touch t ON t.u = c.u
        WHERE t.tt <= c.ct AND t.tt > c.ct - {int(within_us)}
    ),
    credited AS (
        SELECT ttype,
               units // k + CASE WHEN r = 1 THEN units % k ELSE 0 END
                   AS credit
        FROM (
            SELECT ttype, units,
                   COUNT(*) OVER (PARTITION BY u, ct, cb) AS k,
                   ROW_NUMBER() OVER (PARTITION BY u, ct, cb
                                      ORDER BY tt DESC, tb DESC) AS r
            FROM cand
        )
    ),
    attributed AS (
        SELECT ttype AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit) AS BIGINT) AS attributed_micro
        FROM credited GROUP BY 1
    ),
    direct AS (
        SELECT 'direct' AS touch_type, CAST(COUNT(*) AS BIGINT)
                   AS n_touches,
               CAST(COALESCE(SUM(units), 0) AS BIGINT) AS attributed_micro
        FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM cand x
                          WHERE x.u = c.u AND x.ct = c.ct AND x.cb = c.cb)
    )
    SELECT * FROM attributed
    UNION ALL
    SELECT * FROM direct WHERE n_touches > 0
    """


def holtwinters_last(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    period: int,
    tiebreak_col: str | None = None,
    alpha_halves: int = 2,
    beta_halves: int = 2,
    gamma_halves: int = 2,
    horizon: int = 1,
) -> DataFrame:
    """Per-key HOLT-WINTERS additive triple-exponential smoothing
    (level + trend + ``period``-slot seasonal), CURRENT state — the
    seasonal member of the EWMA → Holt family.  Event-time fold:

    .. code-block:: text

        l' = α·(x − s[j]) + (1−α)·(l + b)        j = n mod period
        b' = β·(l'−l) + (1−β)·b                  (expanded — see below)
        s[j]' = γ·(x − l') + (1−γ)·s[j]

    CONTRACT: seasonals seed at 0.0 (NOT the textbook first-season
    average — deterministic, needs no second pass; during the first
    season the recursion is exactly Holt with a growing seasonal
    correction), the first observation seeds ``(l, b) = (x₁, 0)``, the
    trend uses the expanded ``l'−l = α·((x−s[j])−l) + (1−α)·b`` form,
    and the seasonal update DUPLICATES the level expression textually
    (both engines evaluate the identical operation tree twice — the
    holt_last contract convention).  α/β/γ = 1/2^k make every decay
    multiply exact, so the fold is bitwise-portable with only
    order-pinned addition rounding.

    Forecast: ``level + h·trend + s[(n + h − 1) mod period]`` (the
    seasonal slot the h-th future step lands on).

    Shape: ONE groupBy(key), per-key sorted-array fold carrying
    ``2 + period`` doubles (the sessionize/funnel per-key discipline);
    no global order.  The DuckDB mirror walks a RECURSIVE CTE carrying
    the seasonal LIST — each step is a fresh row, so the list_reduce
    multi-float in-place hazard (see :func:`holt_last_sql`) cannot
    arise.

    Output: ``(key, n_events, level, trend, season_next, forecast)``
    where ``season_next = s[(n + horizon − 1) mod period]`` (scalar
    outputs only — the registered-query canonicalizer contract)."""
    if min(alpha_halves, beta_halves, gamma_halves) < 1:
        raise ValueError("alpha/beta/gamma halves must be >= 1")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    alpha = 1.0 / (1 << alpha_halves)
    beta = 1.0 / (1 << beta_halves)
    gamma = 1.0 / (1 << gamma_halves)
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    from ..timeutil import epoch_us

    rows = F.array_sort(F.collect_list(F.struct(
        epoch_us(F.col(ts_col)).alias("t"),
        tb.alias("b"),
        F.col(value_col).cast("double").alias("x"))))
    init = F.struct(
        F.lit(0).cast("bigint").alias("n"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("tr"),
        F.array(*[F.lit(0.0) for _ in range(period)]).alias("s"),
    )

    def step(acc, r):
        j = (acc["n"] % period).cast("int")
        sj = F.element_at(acc["s"], j + 1)
        lnew = (F.when(acc["n"] == 0, r["x"])
                .otherwise(F.lit(alpha) * (r["x"] - sj)
                           + F.lit(1.0 - alpha) * (acc["l"] + acc["tr"])))
        snew = (F.when(acc["n"] == 0, F.lit(0.0))
                .otherwise(
                    F.lit(gamma)
                    * (r["x"]
                       - (F.lit(alpha) * (r["x"] - sj)
                          + F.lit(1.0 - alpha) * (acc["l"] + acc["tr"])))
                    + F.lit(1.0 - gamma) * sj))
        return F.struct(
            (acc["n"] + 1).alias("n"),
            lnew.alias("l"),
            F.when(acc["n"] == 0, F.lit(0.0))
            .otherwise(F.lit(beta)
                       * (F.lit(alpha) * ((r["x"] - sj) - acc["l"])
                          + F.lit(1.0 - alpha) * acc["tr"])
                       + F.lit(1.0 - beta) * acc["tr"]).alias("tr"),
            F.transform(
                acc["s"],
                lambda v, i: F.when(i == j, snew).otherwise(v)).alias("s"),
        )

    acc = F.aggregate(rows, init, step)
    slot = ((F.col("acc")["n"] + F.lit(horizon) - 1) % period).cast("int")
    season_next = F.element_at(F.col("acc")["s"], slot + 1)
    return (
        df.groupBy(key)
        .agg(acc.alias("acc"))
        .select(key,
                F.col("acc")["n"].alias("n_events"),
                F.col("acc")["l"].alias("level"),
                F.col("acc")["tr"].alias("trend"),
                season_next.alias("season_next"),
                (F.col("acc")["l"]
                 + F.lit(float(horizon)) * F.col("acc")["tr"]
                 + season_next).alias("forecast"))
    )


def holtwinters_last_sql(
    src: str,
    key: str,
    ts_expr: str,
    value_expr: str,
    period: int,
    tiebreak_expr: str = "0",
    alpha_halves: int = 2,
    beta_halves: int = 2,
    gamma_halves: int = 2,
    horizon: int = 1,
) -> str:
    """DuckDB mirror of :func:`holtwinters_last` — the holt_last_sql
    recursive CTE extended with a seasonal LIST column (updated by a
    pure per-step ``list_transform``; fresh row per step, so the
    multi-float in-place list_reduce hazard cannot arise).  Identical
    expanded/duplicated expression forms."""
    alpha = 1.0 / (1 << alpha_halves)
    beta = 1.0 / (1 << beta_halves)
    gamma = 1.0 / (1 << gamma_halves)
    zeros = ", ".join(["CAST(0.0 AS DOUBLE)"] * period)
    # row r.i is the (r.i)-th observation: n = r.i − 1 priors are folded
    # when it arrives, so its seasonal slot is j = (r.i − 1) % period
    # (0-based); DuckDB lists are 1-indexed, hence s.s[j + 1].
    j = f"(CAST(r.i - 1 AS BIGINT) % {period})"
    lnew = (f"({alpha!r} * (r.x - s.s[{j} + 1]) "
            f"+ {1.0 - alpha!r} * (s.l + s.tr))")
    return f"""
    WITH RECURSIVE rows_ AS (
        SELECT {key} AS k,
               row_number() OVER (
                   PARTITION BY {key}
                   ORDER BY epoch_us({ts_expr}), {tiebreak_expr},
                            CAST({value_expr} AS DOUBLE)) AS i,
               CAST({value_expr} AS DOUBLE) AS x
        FROM {src}
    ),
    step AS (
        SELECT k, i, x AS l, CAST(0.0 AS DOUBLE) AS tr,
               [{zeros}] AS s
        FROM rows_ WHERE i = 1
        UNION ALL
        SELECT r.k, r.i,
               {lnew},
               {beta!r} * ({alpha!r} * ((r.x - s.s[{j} + 1]) - s.l)
                           + {1.0 - alpha!r} * s.tr)
               + {1.0 - beta!r} * s.tr,
               list_transform(s.s, (v, li) ->
                   CASE WHEN li = {j} + 1 THEN
                     {gamma!r} * (r.x - {lnew}) + {1.0 - gamma!r} * s.s[{j} + 1]
                   ELSE v END)
        FROM step s JOIN rows_ r ON r.k = s.k AND r.i = s.i + 1
    ),
    fin AS (SELECT k, MAX(i) AS n FROM rows_ GROUP BY k)
    SELECT s.k AS {key}, CAST(f.n AS BIGINT) AS n_events,
           CAST(s.l AS DOUBLE) AS level,
           CAST(s.tr AS DOUBLE) AS trend,
           CAST(s.s[(CAST(f.n + {horizon} - 1 AS BIGINT) % {period}) + 1]
                AS DOUBLE) AS season_next,
           CAST(s.l + {float(horizon)!r} * s.tr
                + s.s[(CAST(f.n + {horizon} - 1 AS BIGINT) % {period}) + 1]
                AS DOUBLE) AS forecast
    FROM step s JOIN fin f ON f.k = s.k AND s.i = f.n
    """
