"""Direct unit tests for relational operators (join modes, top-k
determinism, set ops, as-of edge cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators import relational as R
from map_reduce_folds_spark.operators import windows as W


@pytest.fixture(scope="module")
def left(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, l string"
    ).cache()


@pytest.fixture(scope="module")
def right(spark):
    return spark.createDataFrame(
        [(2, "x"), (3, "y"), (4, "z")], "id bigint, r string"
    ).cache()


def test_join_modes(left, right):
    inner = R.join(left, right, "id", "inner")
    assert sorted(r.id for r in inner.collect()) == [2, 3]
    lj = R.join(left, right, "id", "left")
    assert sorted((r.id, r.r) for r in lj.collect()) == [(1, None), (2, "x"), (3, "y")]
    semi = R.join(left, right, "id", "semi")
    assert sorted(r.id for r in semi.collect()) == [2, 3]
    assert semi.columns == ["id", "l"]  # semi keeps only left columns
    anti = R.join(left, right, "id", "anti")
    assert [r.id for r in anti.collect()] == [1]
    full = R.join(left, right, "id", "full")
    assert full.count() == 4


def test_topk_deterministic_on_ties(spark):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id bigint, v bigint"
    )
    out1 = [r.id for r in R.topk(df, [F.col("v").desc(), F.col("id")], 5).collect()]
    out2 = [r.id for r in R.topk(df, [F.col("v").desc(), F.col("id")], 5).collect()]
    assert out1 == out2 == [2, 5, 8, 11, 14]


def test_topk_per_group_keeps_rank(spark):
    df = spark.createDataFrame(
        [(g, v) for g in range(2) for v in range(5)], "g bigint, v bigint"
    )
    out = R.topk_per_group(df, ["g"], [F.col("v").desc()], 2, keep_rank=True)
    rows = sorted((r.g, r.rn, r.v) for r in out.collect())
    assert rows == [(0, 1, 4), (0, 2, 3), (1, 1, 4), (1, 2, 3)]


def test_set_ops(left, right):
    a = left.select("id")
    b = right.select("id")
    assert sorted(r.id for r in R.union_all(a, b).collect()) == [1, 2, 2, 3, 3, 4]
    assert sorted(r.id for r in R.union_distinct(a, b).collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in R.intersect(a, b).collect()) == [2, 3]
    assert [r.id for r in R.except_(a, b).collect()] == [1]


@pytest.mark.parametrize("strategy", ["merge", "range"])
def test_asof_backward_and_forward(spark, strategy):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 3, 20.0)],
        "sym string, t bigint, px double",
    )
    trades = spark.createDataFrame(
        [("A", 4, 1), ("A", 6, 2), ("B", 2, 3), ("C", 9, 4)],
        "sym string, t bigint, trade_id bigint",
    )
    back = R.asof_join(trades, quotes.withColumnRenamed("t", "qt"),
                       on="sym", left_time="t", right_time="qt",
                       strategy=strategy)
    got = {r.trade_id: r.px for r in back.collect()}
    # trade A@4 -> quote A@1; A@6 -> A@5; B@2 -> none; C -> none
    assert got == {1: 10.0, 2: 11.0, 3: None, 4: None}

    fwd = R.asof_join(trades, quotes.withColumnRenamed("t", "qt"),
                      on="sym", left_time="t", right_time="qt",
                      direction="forward", strategy=strategy)
    got = {r.trade_id: r.px for r in fwd.collect()}
    # A@4 -> A@5 (next); A@6 -> none; B@2 -> B@3; C -> none
    assert got == {1: 11.0, 2: None, 3: 20.0, 4: None}


def test_asof_merge_edge_semantics(spark):
    """Inclusive equal-time match, null keys/times never match, duplicate
    left rows each survive — same contract as the range form."""
    quotes = spark.createDataFrame(
        [("A", 4, 1.0), ("A", None, 9.0), (None, 1, 8.0)],
        "sym string, qt bigint, px double",
    )
    trades = spark.createDataFrame(
        [("A", 4, 1), ("A", 4, 1), ("A", None, 2), (None, 2, 3)],
        "sym string, t bigint, trade_id bigint",
    )
    out = R.asof_join(trades, quotes, on="sym",
                      left_time="t", right_time="qt").collect()
    assert len(out) == 4  # both duplicate left rows kept
    by_id = {}
    for r in out:
        by_id.setdefault(r.trade_id, []).append(r.px)
    assert by_id[1] == [1.0, 1.0]   # equal time matches (inclusive)
    assert by_id[2] == [None]       # null left time -> no match
    assert by_id[3] == [None]       # null key -> no match


def test_sessionize_gap_boundary(spark):
    df = spark.createDataFrame(
        [(1, 0), (1, 100), (1, 2000), (2, 0)],
        "user_id bigint, sec bigint",
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"))
    out = W.sessionize(df, "user_id", "ts", gap_seconds=1800)
    sessions = {(r.user_id, r.ts.second + r.ts.minute * 60 + r.ts.hour * 3600): r.session_id
                for r in out.collect()}
    assert sessions[(1, 0)] == sessions[(1, 100)]      # within gap
    assert sessions[(1, 2000)] == sessions[(1, 0)] + 1  # past gap -> new session
    assert sessions[(2, 0)] == 1


def test_asof_hot_key_bucket_equals_unsplit_on_skew(spark):
    """The hot-key pre-split (hot_key_bucket=) must return exactly the
    unsplit merge as-of results on pathologically skewed data: one key
    holds 50% of all rows on both sides."""
    n = 20_000
    trades = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 211).cast("string")))
        .alias("sym"),
        (F.col("id") * 7 % 100_000).alias("t"),
        F.col("id").alias("trade_id"),
    )
    quotes = spark.range(n // 2).select(
        F.when(F.col("id") % 2 == 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 211).cast("string")))
        .alias("sym"),
        (F.col("id") * 13 % 100_000).alias("qt"),
        (F.col("id") % 997).cast("double").alias("px"),
    )
    for direction in ("backward", "forward"):
        base = R.asof_join(trades, quotes, on="sym", left_time="t",
                           right_time="qt", direction=direction)
        split = R.asof_join(trades, quotes, on="sym", left_time="t",
                            right_time="qt", direction=direction,
                            hot_key_bucket=5_000)
        assert base.exceptAll(split).count() == 0
        assert split.exceptAll(base).count() == 0
        assert split.count() == n


def test_asof_hot_key_bucket_plan_splits_hot_key(spark):
    """Plan pin: with hot_key_bucket the running-last window partitions by
    (key, bucket) — so the hot key's sort is spread over >1 window group —
    while the unsplit form partitions by the key alone."""
    from map_reduce_folds_spark.plans import executed_plan

    trades = spark.range(1000).select(
        F.lit("HOT").alias("sym"), F.col("id").alias("t"),
        F.col("id").alias("trade_id"))
    quotes = spark.range(500).select(
        F.lit("HOT").alias("sym"), (F.col("id") * 2).alias("qt"),
        F.col("id").cast("double").alias("px"))
    split = R.asof_join(trades, quotes, on="sym", left_time="t",
                        right_time="qt", hot_key_bucket=100)
    split.collect()
    plan = executed_plan(split)
    assert "__bk" in plan  # bucket column reaches the physical plan
    # the row-level window spec partitions by (sym, __bk), not sym alone
    assert any("windowspecdefinition" in ln and "sym" in ln and "__bk" in ln
               for ln in plan.splitlines())
    # the single hot key genuinely spans many buckets on this data
    n_buckets = trades.select(
        F.floor(F.col("t").cast("double") / 100).alias("b")
    ).distinct().count()
    assert n_buckets == 10
    base = R.asof_join(trades, quotes, on="sym", left_time="t",
                       right_time="qt")
    base.collect()
    assert "__bk" not in executed_plan(base)


def test_asof_hot_key_bucket_edge_semantics(spark):
    """Null keys/times, inclusive equal-time match, and duplicate left
    rows behave identically to the unsplit merge form under the split."""
    quotes = spark.createDataFrame(
        [("A", 4, 1.0), ("A", None, 9.0), (None, 1, 8.0)],
        "sym string, qt bigint, px double",
    )
    trades = spark.createDataFrame(
        [("A", 4, 1), ("A", 4, 1), ("A", None, 2), (None, 2, 3)],
        "sym string, t bigint, trade_id bigint",
    )
    out = R.asof_join(trades, quotes, on="sym", left_time="t",
                      right_time="qt", hot_key_bucket=2).collect()
    assert len(out) == 4
    by_id = {}
    for r in out:
        by_id.setdefault(r.trade_id, []).append(r.px)
    assert by_id[1] == [1.0, 1.0]   # equal time matches (inclusive)
    assert by_id[2] == [None]       # null left time -> no match
    assert by_id[3] == [None]       # null key -> no match
    with pytest.raises(ValueError):
        R.asof_join(trades, quotes, on="sym", left_time="t",
                    right_time="qt", strategy="range", hot_key_bucket=2)


def test_asof_tolerance_and_multikey(spark):
    """tolerance= nulls matches farther than the bound (pandas merge_asof
    parity) and on= accepts a key LIST; merge and range strategies agree
    on both, and merge+tolerance equals range+tolerance on random data."""
    quotes = spark.createDataFrame(
        [("A", "x", 1, 10.0), ("A", "x", 5, 11.0), ("A", "y", 2, 30.0),
         ("B", "x", 3, 20.0)],
        "sym string, venue string, qt bigint, px double",
    )
    trades = spark.createDataFrame(
        [("A", "x", 6, 1), ("A", "y", 9, 2), ("B", "x", 2, 3),
         ("A", "z", 4, 4)],
        "sym string, venue string, t bigint, trade_id bigint",
    )
    for strategy in ("merge", "range"):
        out = {r.trade_id: (r.px, r["__rt"]) for r in R.asof_join(
            trades, quotes, on=["sym", "venue"], left_time="t",
            right_time="qt", strategy=strategy, tolerance=3).collect()}
        # trade 1: (A,x)@6 -> quote@5 (delta 1 <= 3) -> 11.0
        # trade 2: (A,y)@9 -> quote@2 is 7 away -> OUT of tolerance -> null
        # trade 3: (B,x)@2 -> no earlier quote -> null
        # trade 4: (A,z) -> no such key pair -> null
        assert out == {1: (11.0, 5), 2: (None, None), 3: (None, None),
                       4: (None, None)}, strategy
    # merge+tolerance == range+tolerance on denser random data, both ways
    n = 4_000
    t2 = spark.range(n).select(
        (F.col("id") % 7).cast("string").alias("k"),
        ((F.col("id") * 13) % 500).alias("t"), F.col("id").alias("tid"))
    q2 = spark.range(n // 2).select(
        (F.col("id") % 7).cast("string").alias("k"),
        ((F.col("id") * 29) % 500).alias("qt"),
        (F.col("id") % 97).cast("double").alias("px"))
    for direction in ("backward", "forward"):
        m = R.asof_join(t2, q2, on="k", left_time="t", right_time="qt",
                        direction=direction, tolerance=10)
        g = R.asof_join(t2, q2, on="k", left_time="t", right_time="qt",
                        direction=direction, tolerance=10, strategy="range")
        # compare on (tid -> matched time): the px tie among equal qt rows
        # is nondeterministic in BOTH strategies, the time is not
        assert {r.tid: r["__rt"] for r in m.collect()} == \
               {r.tid: r["__rt"] for r in g.collect()}, direction
    # tolerance composes with the hot-key pre-split
    s = R.asof_join(t2, q2, on="k", left_time="t", right_time="qt",
                    tolerance=10, hot_key_bucket=50)
    m = R.asof_join(t2, q2, on="k", left_time="t", right_time="qt",
                    tolerance=10)
    assert {r.tid: r["__rt"] for r in s.collect()} == \
           {r.tid: r["__rt"] for r in m.collect()}


def test_asof_nearest(spark):
    """direction='nearest': smallest absolute distance wins, equal
    distance breaks backward (pandas merge_asof semantics); verified
    against a pandas merge_asof brute-force on random data."""
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("B", 8, 20.0)],
        "sym string, qt bigint, px double",
    )
    trades = spark.createDataFrame(
        [("A", 2, 1),   # back@1 (d=1) vs fwd@5 (d=3) -> 10.0
         ("A", 3, 2),   # back@1 (d=2) vs fwd@5 (d=2) -> TIE -> backward 10.0
         ("A", 7, 3),   # back@5 only -> 11.0
         ("B", 2, 4),   # fwd@8 only -> 20.0
         ("C", 1, 5)],  # no key -> null
        "sym string, t bigint, trade_id bigint",
    )
    for strategy in ("merge", "range"):
        got = {r.trade_id: r.px for r in R.asof_join(
            trades, quotes, on="sym", left_time="t", right_time="qt",
            direction="nearest", strategy=strategy).collect()}
        assert got == {1: 10.0, 2: 10.0, 3: 11.0, 4: 20.0, 5: None}, strategy
    # tolerance composes: B@2 -> fwd@8 is 6 away -> null at tolerance 5
    got = {r.trade_id: r.px for r in R.asof_join(
        trades, quotes, on="sym", left_time="t", right_time="qt",
        direction="nearest", tolerance=5).collect()}
    assert got[4] is None and got[1] == 10.0

    # null left time / null key match nothing in BOTH strategies
    nt = spark.createDataFrame(
        [("A", None, 9), (None, 3, 10)], "sym string, t bigint, trade_id bigint")
    for strategy in ("merge", "range"):
        got = {r.trade_id: r.px for r in R.asof_join(
            nt, quotes, on="sym", left_time="t", right_time="qt",
            direction="nearest", strategy=strategy).collect()}
        assert got == {9: None, 10: None}, strategy
    with pytest.raises(ValueError):
        R.asof_join(trades, quotes, on="sym", left_time="t", right_time="qt",
                    direction="nearest", hot_key_bucket=10)

    # brute-force parity vs pandas merge_asof on random data
    import pandas as pd

    t2 = spark.range(2_000).select(
        (F.col("id") % 5).cast("string").alias("k"),
        ((F.col("id") * 13) % 997).alias("t"), F.col("id").alias("tid"))
    q2 = spark.range(700).select(
        (F.col("id") % 5).cast("string").alias("k"),
        ((F.col("id") * 31) % 997).alias("qt"),
        (F.col("id") % 89).cast("double").alias("px"))
    got = {r.tid: r["__rt"] for r in R.asof_join(
        t2, q2, on="k", left_time="t", right_time="qt",
        direction="nearest").collect()}
    tp = t2.toPandas().sort_values("t").reset_index(drop=True)
    qp = (q2.toPandas().sort_values("qt").reset_index(drop=True)
          .drop_duplicates())
    m = pd.merge_asof(tp, qp, left_on="t", right_on="qt", by="k",
                      direction="nearest")
    want = {int(r.tid): (None if pd.isna(r.qt) else int(r.qt))
            for r in m.itertuples()}
    assert got == want


def test_topk_per_group_pre_split_equals_unsplit_on_skew(spark):
    """The two-level tournament (pre_split=) must return exactly the
    single-window per-group top-k when order_by is a total order, on data
    where one group holds 50% of all rows."""
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 127).cast("string")))
        .alias("g"),
        (F.col("id") * 37 % 9973).alias("v"),
        F.col("id").alias("uid"),
    )
    order = [F.col("v").desc(), F.col("uid")]  # total order (uid unique)
    base = R.topk_per_group(df, ["g"], order, 5, keep_rank=True)
    split = R.topk_per_group(df, ["g"], order, 5, keep_rank=True, pre_split=8)
    assert base.exceptAll(split).count() == 0
    assert split.exceptAll(base).count() == 0
    # both window levels appear in the split plan: (g, __salt) then (g)
    from map_reduce_folds_spark.plans import executed_plan
    split.collect()
    plan = executed_plan(split)
    assert any("windowspecdefinition" in ln and "__salt" in ln
               for ln in plan.splitlines())


def test_sessionize_hot_key_bucket_equals_unsplit_on_skew(spark):
    """Split sessionization must assign exactly the same session ids as
    the unsplit form when one user holds 50% of all events, including
    sessions that span bucket boundaries."""
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .when(F.col("id") % 13 == 5, F.lit(None))  # null key kept as a group
        .otherwise(F.col("id") % 97 + 1).alias("user_id"),
        # ~38s hot-user spacing with jitter, plus a 2000s dead gap every
        # 1000 ids — so sessions genuinely close, and session interiors
        # span many 1800s buckets
        F.timestamp_seconds(
            F.col("id") * 19
            + F.floor(F.col("id") / 1000) * 2000
            + (F.col("id") * 37 % 89) * (F.col("id") % 7 + 1)
        ).alias("ts"),
    )
    base = W.sessionize(df, "user_id", "ts", gap_seconds=600)
    split = W.sessionize(df, "user_id", "ts", gap_seconds=600,
                         hot_key_bucket=1800)
    assert base.exceptAll(split).count() == 0
    assert split.exceptAll(base).count() == 0
    assert split.count() == n
    # sanity: the data really does cross buckets inside sessions
    hot = split.filter("user_id = 0")
    assert hot.count() == n // 2
    assert hot.select(F.max("session_id")).first()[0] > 1


def test_sessionize_hot_key_bucket_plan_splits_hot_key(spark):
    from map_reduce_folds_spark.plans import executed_plan

    # key must come from data (a literal would be constant-folded out of
    # the window partition spec); 99.95% of rows share user 0
    df = spark.range(2000).select(
        F.when(F.col("id") % 1999 == 1, 1).otherwise(0).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 10).alias("ts"))
    split = W.sessionize(df, "user_id", "ts", gap_seconds=30,
                         hot_key_bucket=1000)
    split.collect()
    plan = executed_plan(split)
    assert any("windowspecdefinition" in ln and "user_id" in ln
               and "__bk" in ln for ln in plan.splitlines())
    # 2000 events * 10s / 1000s bucket = 20 window groups for one key
    assert df.select(
        F.floor(F.col("ts").cast("double") / 1000).alias("b")
    ).distinct().count() == 20


def test_running_keyed_hot_key_bucket_equals_unsplit(spark):
    """Split running aggregates (sum/count/min/max carries across buckets)
    must equal the single-window form on 50%-skew data, including nulls."""
    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .when(F.col("id") % 13 == 5, F.lit(None))  # null key = its own group
        .otherwise(F.col("id") % 97 + 1).alias("k"),
        F.col("id").alias("o"),  # unique total order
        F.when(F.col("id") % 11 == 3, F.lit(None))
        .otherwise((F.col("id") * 37 % 1009) - 500).alias("v"),
    )
    aggs = {"s": ("sum", "v"), "n": ("count", None), "nv": ("count", "v"),
            "mn": ("min", "v"), "mx": ("max", "v")}
    base = W.running_keyed(df, "k", "o", aggs)
    split = W.running_keyed(df, "k", "o", aggs, hot_key_bucket=1500)
    assert base.exceptAll(split).count() == 0
    assert split.exceptAll(base).count() == 0
    assert split.count() == n
    # all-null prefix stays null in both forms: check the first rows of a
    # key whose first values are null
    row0 = split.filter("k = 0").orderBy("o").first()
    base0 = base.filter("k = 0").orderBy("o").first()
    assert (row0.s, row0.mn, row0.mx) == (base0.s, base0.mn, base0.mx)
    # timestamp order column takes the epoch-seconds bucket path
    ts_df = df.select("k", F.timestamp_seconds(F.col("o") * 7).alias("ts"), "v")
    b2 = W.running_keyed(ts_df, "k", "ts", {"s": ("sum", "v")})
    s2 = W.running_keyed(ts_df, "k", "ts", {"s": ("sum", "v")},
                         hot_key_bucket=9_000)
    assert b2.exceptAll(s2).count() == 0
    assert s2.exceptAll(b2).count() == 0


def test_rollup_cube_row_counts(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], "p string, q string, v bigint"
    )
    roll = R.rollup_agg(df, ["p", "q"], {"s": F.sum("v")})
    # rows: 3 leaf + 2 per-p + 1 total
    assert roll.count() == 6
    cube = R.cube_agg(df, ["p", "q"], {"s": F.sum("v")})
    # rows: 3 leaf + 2 per-p + 2 per-q + 1 total
    assert cube.count() == 8
    total = {r.s for r in cube.filter("p IS NULL AND q IS NULL").collect()}
    assert total == {6}


def test_salted_aggregate_skewed_data(spark):
    """Salted two-stage aggregation equals the direct groupBy on heavily
    skewed data (90% of 2M rows share one key)."""
    from map_reduce_folds_spark.operators.skew import salted_aggregate

    df = spark.range(2_000_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            (F.col("id") % 97).cast("string")).alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    direct = {(r.k): (r.n, r.s, r.mn, r.mx) for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx")).collect()}
    salted = salted_aggregate(
        df, ["k"],
        {"n": ("count", None), "s": ("sum", "v"),
         "mn": ("min", "v"), "mx": ("max", "v")},
        salt_buckets=32,
    )
    got = {(r.k): (r.n, r.s, r.mn, r.mx) for r in salted.collect()}
    assert got == direct


def test_ordered_prefix_sum_matches_global_window(spark):
    """The distributed prefix sum (bucketed ranks + broadcast offsets)
    must equal the naive single-task ORDER BY window bit-for-bit,
    including with sparse/negative ids and at bucket boundaries."""
    from pyspark.sql.window import Window

    df = spark.range(10_000).select(
        (F.col("id") * 7 - 5000).alias("k"),  # sparse, negative, ordered
        (F.col("id") % 13 + 1).alias("v"),
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    naive = df.withColumn(
        "c", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("bigint"))
    fast = W.ordered_prefix_sum(df, "k", "v", "c", n_buckets=32)
    assert naive.select("k", "c").exceptAll(fast.select("k", "c")).count() == 0
    assert fast.select("k", "c").exceptAll(naive.select("k", "c")).count() == 0
    # empty input: no crash, bigint zero column
    empty = df.filter("k > 1e9")
    out = W.ordered_prefix_sum(empty, "k", "v", "c")
    assert out.count() == 0


def _ij_fixture(spark):
    import random

    rng = random.Random(7)
    points = spark.createDataFrame(
        [(i, rng.randrange(5), float(rng.randrange(1000))) for i in range(400)],
        "pid long, k long, t double",
    )
    ivals = spark.createDataFrame(
        [(j, rng.randrange(5), float(s := rng.randrange(950)),
          s + float(rng.randrange(1, 120)))
         for j in range(60)],
        "iid long, k long, lo double, hi double",
    )
    return points, ivals.withColumnRenamed("k", "k2") \
        .withColumnRenamed("k2", "k")  # keep name 'k' (shared equi-key)


def test_interval_join_strategies_agree(spark):
    """bucketized (several widths), broadcast, and plain forms must return
    the same pair set — the bucket explode meets each containment exactly
    once because a point has exactly one bucket."""
    points, ivals = _ij_fixture(spark)

    def pairs(**kw):
        out = R.interval_join(points, ivals, "t", "lo", "hi", on="k", **kw)
        return {(r["pid"], r["iid"]) for r in out.collect()}

    plain = pairs()
    assert plain  # fixture produces matches
    assert pairs(broadcast_intervals=True) == plain
    for w in (7.0, 64.0, 500.0):
        assert pairs(bucket_width=w) == plain, f"bucket_width={w}"
    # brute-force truth
    pts = points.collect()
    ivs = ivals.collect()
    truth = {(p["pid"], v["iid"]) for p in pts for v in ivs
             if p["k"] == v["k"] and v["lo"] <= p["t"] <= v["hi"]}
    assert plain == truth


def test_interval_join_left_keeps_unmatched_points(spark):
    points, ivals = _ij_fixture(spark)
    inner = R.interval_join(points, ivals, "t", "lo", "hi", on="k",
                            bucket_width=50.0)
    left = R.interval_join(points, ivals, "t", "lo", "hi", on="k",
                           how="left", bucket_width=50.0)
    matched_pids = {r["pid"] for r in inner.collect()}
    left_rows = left.collect()
    # every point appears; unmatched ones exactly once with null interval
    assert {r["pid"] for r in left_rows} == {r["pid"] for r in points.collect()}
    unmatched = [r for r in left_rows if r["iid"] is None]
    assert {r["pid"] for r in unmatched} == (
        {r["pid"] for r in points.collect()} - matched_pids)
    assert {(r["pid"], r["iid"]) for r in left_rows if r["iid"] is not None} \
        == {(r["pid"], r["iid"]) for r in inner.collect()}


def test_interval_join_timestamps_and_collision_guard(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + timedelta(minutes=i)) for i in range(120)],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [(j, base + timedelta(minutes=30 * j),
          base + timedelta(minutes=30 * j + 10)) for j in range(4)],
        "iid long, t0 timestamp, t1 timestamp",
    )
    got = {(r["pid"], r["iid"])
           for r in R.interval_join(pts, ivs, "ts", "t0", "t1",
                                    bucket_width=600.0).collect()}
    want = {(p["pid"], v["iid"]) for p in pts.collect() for v in ivs.collect()
            if v["t0"] <= p["ts"] <= v["t1"]}
    assert got == want and got
    with pytest.raises(ValueError, match="collision"):
        R.interval_join(pts, pts.withColumnRenamed("pid", "qid"),
                        "ts", "ts", "ts")


def test_overlap_join_strategies_agree(spark):
    """Bucketized (first-shared-bucket, dedup-free), broadcast, and plain
    forms of the interval-overlap join must all return the brute-force
    pair set."""
    import random

    rng = random.Random(11)
    left = spark.createDataFrame(
        [(i, rng.randrange(4), float(s := rng.randrange(900)),
          s + float(rng.randrange(1, 80))) for i in range(150)],
        "lid long, k long, ls double, le double",
    )
    right = spark.createDataFrame(
        [(j, rng.randrange(4), float(s := rng.randrange(900)),
          s + float(rng.randrange(1, 80))) for j in range(150)],
        "rid long, k long, rs double, re double",
    )

    def pairs(**kw):
        out = R.overlap_join(left, right, "ls", "le", "rs", "re",
                             on="k", **kw)
        return sorted((r["lid"], r["rid"]) for r in out.collect())

    truth = sorted(
        (a["lid"], b["rid"])
        for a in left.collect() for b in right.collect()
        if a["k"] == b["k"] and a["ls"] <= b["re"] and b["rs"] <= a["le"])
    plain = pairs()
    assert plain == truth and truth
    assert pairs(broadcast_right=True) == truth
    for w in (13.0, 100.0, 2000.0):
        got = pairs(bucket_width=w)
        assert got == truth, f"bucket_width={w}"  # ALSO proves no dup rows
    # left join keeps unmatched left intervals once (plain strategy);
    # bucketized left is rejected loudly (replica-null unsoundness)
    lo = R.overlap_join(left, right, "ls", "le", "rs", "re", on="k",
                        how="left")
    rows = lo.collect()
    matched = {p for p, _ in truth}
    assert {r["lid"] for r in rows if r["rid"] is None} == (
        {r["lid"] for r in left.collect()} - matched)
    with pytest.raises(ValueError, match="unsound"):
        R.overlap_join(left, right, "ls", "le", "rs", "re", on="k",
                       how="left", bucket_width=50.0)


def test_interval_join_inclusive_bounds_and_bucket_edges(spark):
    """Edge semantics: [start, end] is CLOSED on both ends, and points
    landing exactly on a bucket boundary (t == k·w) or equal to an
    interval endpoint match identically across strategies."""
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 10.0, 20.0, 25.0, 30.0,
                                              40.0, 50.0, -10.0])],
        "pid long, t double",
    )
    ivs = spark.createDataFrame(
        [(0, 10.0, 30.0), (1, 30.0, 30.0), (2, -20.0, 0.0)],
        "iid long, lo double, hi double",
    )
    want = {(p["pid"], v["iid"]) for p in pts.collect() for v in ivs.collect()
            if v["lo"] <= p["t"] <= v["hi"]}
    for kw in ({}, {"bucket_width": 10.0}, {"bucket_width": 3.0},
               {"broadcast_intervals": True}):
        got = {(r["pid"], r["iid"])
               for r in R.interval_join(pts, ivs, "t", "lo", "hi",
                                        **kw).collect()}
        assert got == want, kw
    # degenerate interval [30, 30] matched the boundary point
    assert (4, 1) in want


# ---------------------------------------------------------------------------
# Funnel analysis
# ---------------------------------------------------------------------------

def test_funnel_depth_greedy_in_order(spark):
    """Strict-order greedy semantics: repeats ignored, out-of-order steps
    don't count, later completion still advances."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W

    def ev(uid, sec, et, eid):
        return (uid, datetime(2025, 1, 1, 0, 0, sec), et, eid)

    rows = [
        # user 1: full funnel with noise and repeats -> 3
        ev(1, 1, "view", 1), ev(1, 2, "view", 2), ev(1, 3, "error", 3),
        ev(1, 4, "click", 4), ev(1, 5, "purchase", 5),
        # user 2: purchase BEFORE view/click -> only view+click count -> 2
        ev(2, 1, "purchase", 6), ev(2, 2, "view", 7), ev(2, 3, "click", 8),
        # user 3: no funnel events -> 0
        ev(3, 1, "error", 9),
        # user 4: view then purchase (skipped click) -> 1
        ev(4, 1, "view", 10), ev(4, 2, "purchase", 11),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long")
    got = {r["user_id"]: r["depth"] for r in W.funnel_depth(
        df, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], "event_id").collect()}
    assert got == {1: 3, 2: 2, 3: 0, 4: 1}


def test_funnel_depth_collects_step_events_only(spark):
    """Hot-user discipline (r6 verdict #1): the per-user array is built
    from FUNNEL-STEP events only — a user whose stream is >50% non-step
    spam gets the same depth as without the spam (i=0 entries never
    advance the fold), and the isin(steps) filter reaches the parquet
    scan (plan pin)."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W
    from map_reduce_folds_spark.sources import load_table
    from tests.conftest import SF_DIR

    steps = ["view", "click", "purchase"]
    base = [(1, datetime(2025, 1, 1, 0, 0, s), et, s)
            for s, et in [(1, "view"), (3, "click"), (5, "purchase")]]
    spam = [(1, datetime(2025, 1, 1, 0, 1, s % 60), "heartbeat", 100 + s)
            for s in range(200)]  # 200 spam vs 3 step events
    schema = "user_id long, ts timestamp, event_type string, event_id long"
    clean = spark.createDataFrame(base, schema)
    noisy = spark.createDataFrame(base + spam, schema)
    d_clean = {r["user_id"]: r["depth"] for r in W.funnel_depth(
        clean, "user_id", "ts", "event_type", steps, "event_id").collect()}
    d_noisy = {r["user_id"]: r["depth"] for r in W.funnel_depth(
        noisy, "user_id", "ts", "event_type", steps, "event_id").collect()}
    assert d_clean == d_noisy == {1: 3}

    e = load_table(spark, SF_DIR, "events")
    plan = W.funnel_depth(
        e, "user_id", "ts", "event_type", steps, "event_id",
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(event_type" in plan


def test_funnel_depth_within_horizon(spark):
    """Time-bounded funnel: step k counts only within `within` µs of the
    matched step k-1; the first step is unconstrained; a too-late step is
    skipped and a later in-horizon occurrence still advances."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W

    def ev(uid, sec, et, eid):
        return (uid, datetime(2025, 1, 1, sec // 3600, (sec // 60) % 60,
                              sec % 60), et, eid)

    rows = [
        # user 1: click 100s after view -> skipped at within=10s -> depth 1
        ev(1, 0, "view", 1), ev(1, 100, "click", 2), ev(1, 101, "purchase", 3),
        # user 2: fully inside the horizon -> 3
        ev(2, 0, "view", 4), ev(2, 5, "click", 5), ev(2, 8, "purchase", 6),
        # user 3: first step arbitrarily late (unconstrained) -> 1
        ev(3, 3000, "view", 7),
        # user 4: late click skipped, later click in-horizon of nothing...
        # purchase 9s after matched click -> 3 at within=20s (tested below)
        ev(4, 0, "view", 8), ev(4, 15, "click", 9), ev(4, 24, "purchase", 10),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long")
    steps = ["view", "click", "purchase"]
    got10 = {r["user_id"]: r["depth"] for r in W.funnel_depth(
        df, "user_id", "ts", "event_type", steps, "event_id",
        within=10_000_000).collect()}
    assert got10 == {1: 1, 2: 3, 3: 1, 4: 1}
    got20 = {r["user_id"]: r["depth"] for r in W.funnel_depth(
        df, "user_id", "ts", "event_type", steps, "event_id",
        within=20_000_000).collect()}
    assert got20 == {1: 1, 2: 3, 3: 1, 4: 3}
    # no horizon == within=infinity
    got_inf = {r["user_id"]: r["depth"] for r in W.funnel_depth(
        df, "user_id", "ts", "event_type", steps, "event_id").collect()}
    assert got_inf == {1: 3, 2: 3, 3: 1, 4: 3}


def test_funnel_depth_partitioning_invariant(spark):
    """The sorted-array fold gives identical depths regardless of input
    partitioning (arrival order never matters)."""
    from map_reduce_folds_spark.operators import windows as W
    from map_reduce_folds_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "events")
    steps = ["view", "click", "purchase"]
    a = {(r["user_id"], r["depth"]) for r in
         W.funnel_depth(e, "user_id", "ts", "event_type", steps,
                        "event_id").collect()}
    b = {(r["user_id"], r["depth"]) for r in
         W.funnel_depth(e.repartition(17), "user_id", "ts", "event_type",
                        steps, "event_id").collect()}
    assert a == b


def test_cohort_retention_offset_zero_counts_everyone(spark):
    """Every user is active in their own first week, so each cohort's
    offset-0 count equals the cohort's size, and offsets are never
    negative."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    out = entrymod.queries()["cohort_retention"](spark, SF_DIR).collect()
    assert all(r["week_offset"] >= 0 for r in out)
    zero = {r["cohort_week"]: r["n_users"] for r in out
            if r["week_offset"] == 0}
    from map_reduce_folds_spark.sources import load_table
    n_users = load_table(spark, SF_DIR, "events") \
        .select("user_id").distinct().count()
    assert sum(zero.values()) == n_users


def test_mode_per_group_deterministic_ties(spark):
    """Ties break to the smallest value; counts are exact; numeric and
    string values both order correctly."""
    from map_reduce_folds_spark.operators import relational as R

    df = spark.createDataFrame(
        [("g1", "b"), ("g1", "b"), ("g1", "a"), ("g1", "a"),  # tie a/b -> a
         ("g2", "z"), ("g2", "z"), ("g2", "y")],
        ["g", "v"])
    got = {r["g"]: (r["mode"], r["mode_count"])
           for r in R.mode_per_group(df, ["g"], "v").collect()}
    assert got == {"g1": ("a", 2), "g2": ("z", 2)}

    nums = spark.createDataFrame(
        [(1, 7), (1, 7), (1, 3), (1, 3), (2, 5)], ["g", "v"])
    got2 = {r["g"]: (r["mode"], r["mode_count"])
            for r in R.mode_per_group(nums, ["g"], "v").collect()}
    assert got2 == {1: (3, 2), 2: (5, 1)}


def test_mode_per_group_excludes_nulls(spark):
    """NULL values never win (even on ties — Spark struct-min would sort
    NULL smallest while the SQL mirror sorts NULLs last, r6 ADVICE); a
    group whose values are all NULL emits no row."""
    from map_reduce_folds_spark.operators import relational as R

    df = spark.createDataFrame(
        [("g1", None), ("g1", None), ("g1", "a"), ("g1", "a"),
         ("g2", None), ("g2", "z"),
         ("g3", None)],
        "g string, v string")
    got = {r["g"]: (r["mode"], r["mode_count"])
           for r in R.mode_per_group(df, ["g"], "v").collect()}
    assert got == {"g1": ("a", 2), "g2": ("z", 1)}  # g3 dropped


def test_funnel_step_rates_monotone(spark):
    """Reached counts never increase with depth; every rate is in (0, 1];
    step 1 has no previous step."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = sorted(
        entrymod.queries()["funnel_step_rates"](spark, SF_DIR).collect(),
        key=lambda r: r["step"])
    counts = [r["n_reached"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert rows[0]["rate_from_prev"] is None
    for r in rows[1:]:
        assert 0.0 < r["rate_from_prev"] <= 1.0


def test_scd2_history_runs_and_ranges(spark):
    """Runs collapse, validity ranges chain, NULL runs are tracked."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W

    def t(s):
        return datetime(2024, 1, s)

    rows = [
        (1, t(1), 1, "a"), (1, t(2), 2, "a"), (1, t(3), 3, "b"),
        (1, t(4), 4, None), (1, t(5), 5, None), (1, t(6), 6, "a"),
        (2, t(1), 7, "x"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
    out = W.scd2_history(df, "k", "ts", "v", tiebreak_col="eid")
    got = {(r["k"], r["version"]): (r["v"], r["valid_from"], r["valid_to"],
                                    r["n_events"])
           for r in out.collect()}
    assert got[(1, 1)] == ("a", t(1), t(3), 2)
    assert got[(1, 2)] == ("b", t(3), t(4), 1)
    assert got[(1, 3)] == (None, t(4), t(6), 2)   # NULL run is a run
    assert got[(1, 4)] == ("a", t(6), None, 1)    # current run open-ended
    assert got[(2, 1)] == ("x", t(1), None, 1)
    # valid_to always equals the NEXT version's valid_from
    for (k, ver), (_, _, vt, _) in got.items():
        nxt = got.get((k, ver + 1))
        assert (vt is None) == (nxt is None)
        if nxt is not None:
            assert vt == nxt[1]


def test_resample_fill_forward_grid_and_fill(spark):
    """Every bucket between first and last appears; gaps carry the last
    observed value; within-bucket last is the (ts, tiebreak) max."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W

    H = datetime(2024, 1, 1, 0)
    rows = [
        (1, datetime(2024, 1, 1, 0, 5), 1, "a"),
        (1, datetime(2024, 1, 1, 0, 50), 2, "b"),   # same hour, later → wins
        (1, datetime(2024, 1, 1, 3, 10), 3, "c"),   # hours 1,2 are gaps
        (2, datetime(2024, 1, 1, 5, 0), 4, "z"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
    out = W.resample_fill_forward(df, "k", "ts", "v", tiebreak_col="eid")
    got = {(r["k"], r["bucket"]): (r["v"], r["n_obs"]) for r in out.collect()}
    base = int(H.timestamp() // 3600)
    assert got[(1, base)] == ("b", 2)        # in-bucket last by (ts, eid)
    assert got[(1, base + 1)] == ("b", 0)    # filled gap
    assert got[(1, base + 2)] == ("b", 0)
    assert got[(1, base + 3)] == ("c", 1)
    assert (1, base + 4) not in got          # grid stops at last event
    assert got[(2, base + 5)] == ("z", 1)
    assert len(got) == 5


def test_blocked_levenshtein_pairs_semantics(spark):
    import pytest

    from map_reduce_folds_spark.operators import linkage as LK

    rows = [
        (1, "smith", "b1"), (2, "smyth", "b1"), (3, "jones", "b1"),
        (4, "smith", "b2"),           # other block: never pairs with 1/2
        (5, None, "b1"),              # NULL string excluded
        (6, "smithe", None),          # NULL block key excluded
    ]
    df = spark.createDataFrame(rows, ["id", "name", "blk"])
    out = LK.blocked_levenshtein_pairs(df, "id", "name", ["blk"], max_dist=2,
                                       block_cap=None)
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in out.collect()}
    assert got == {(1, 2): 1}    # smith~smyth within b1; jones is dist 4

    with pytest.raises(ValueError, match="block_cols must be non-empty"):
        LK.blocked_levenshtein_pairs(df, "id", "name", [], 2)
    with pytest.raises(ValueError, match="block_cap"):
        LK.blocked_levenshtein_pairs(df, "id", "name", ["blk"], 2,
                                     block_cap=2)


def test_rolling_median_cents_hand_case(spark):
    """Hand-checked trailing-window medians: frame = [t-1h, t] inclusive,
    odd frame = exact middle, even frame = avg of the two middles, and a
    second key never leaks into the first's frame."""
    from datetime import datetime

    rows = [
        (1, 1, datetime(2024, 1, 1, 10, 0), 1.00),
        (2, 1, datetime(2024, 1, 1, 10, 30), 3.00),
        (3, 1, datetime(2024, 1, 1, 11, 0), 2.00),   # frame {1,3,2} → 2.00
        (4, 1, datetime(2024, 1, 1, 11, 30), 10.00),  # {3,2,10} → 3.00
        (5, 1, datetime(2024, 1, 1, 13, 0), 7.00),   # alone → 7.00
        (6, 2, datetime(2024, 1, 1, 10, 45), 100.00),  # other key, alone
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, value double")
    got = {r.event_id: (r.n_win, r.med_cents)
           for r in W.rolling_median_cents(
               df, "user_id", "ts", "value",
               carry=("event_id",)).collect()}
    assert got == {
        1: (1, 100.0),            # 1.00 in cents
        2: (2, 200.0),            # (100+300)/2
        3: (3, 200.0),
        4: (3, 300.0),
        5: (1, 700.0),
        6: (1, 10000.0),
    }


def test_group_percentiles_nearest_rank_definition(spark):
    """Nearest-rank picks: ceil(q·n/100) in integer arithmetic — q=50 of
    4 values is the 2nd, q=95 of 4 is the 4th; a 100-value group hits
    exactly the 50th/95th; duplicates pick a deterministic value."""
    df = spark.createDataFrame(
        [("a", v) for v in (10, 20, 30, 40)]
        + [("b", v) for v in range(1, 101)]
        + [("c", 5), ("c", 5), ("c", 9)],
        "g string, v long")
    got = {r.g: (r.n, r.p50, r.p95, r.vmax)
           for r in W.group_percentiles_nearest_rank(
               df, ["g"], "v", qs=(50, 95)).collect()}
    assert got == {
        "a": (4, 20, 40, 40),
        "b": (100, 50, 95, 100),
        "c": (3, 5, 9, 9),
    }


def test_transition_probs_hand_case(spark):
    """Journeys a→b→a (u1) and a→b (u2): from 'a' always to 'b' (prob 1),
    from 'b' to 'a' once out of one observed b-transition."""
    from map_reduce_folds_spark.operators import graph as G

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (2, 1, "a"), (2, 2, "b")]
    df = spark.createDataFrame(rows, "u bigint, t bigint, s string")
    got = {(r.prev, r.nxt): (r.n, r.prob)
           for r in G.transition_probs(df, "u", ["t"], "s").collect()}
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_cusum_closed_form_equals_sequential_fold(spark):
    """The prefix identity s_t = P_t − min(0, min_{j≤t} P_j) must equal
    the naive sequential clamp fold — states, max, and one-per-excursion
    alarm counts — on adversarial data (clamps, exact-threshold touches,
    repeated excursions)."""
    import random

    rng = random.Random(7)
    rows = []
    for u in range(6):
        for i in range(80):
            # values straddle the target (50.00) hard enough to clamp
            # often and cross the alarm (5.00 above) repeatedly
            rows.append((u, i, round(rng.uniform(0, 120), 2)))
    K, H = 5000, 500
    want = {}
    for u in range(6):
        s = mx = a = 0
        xs = [int(round(v * 100)) for (uu, _i, v) in rows if uu == u]
        for x in xs:
            ns = max(0, s + (x - K))
            if s <= H < ns:
                a += 1
            mx = max(mx, ns)
            s = ns
        want[u] = (len(xs), s, mx, a)
    df = spark.createDataFrame(
        [(u, i, v) for (u, i, v) in rows],
        "user_id bigint, seq bigint, value double",
    ).select("user_id", "value",
             F.timestamp_micros(F.col("seq")).alias("ts"),
             F.col("seq").alias("event_id"))
    got = {r.user_id: (r.n_events, r.final_cusum, r.max_cusum, r.n_alarms)
           for r in W.cusum_per_key(df, "user_id", "ts", "value",
                                    K, H, tiebreak_col="event_id").collect()}
    assert got == want
    assert any(v[3] >= 2 for v in want.values())  # multi-excursion exercised


def test_association_rules_hand_case(spark):
    """Hand-checked support/confidence/lift on three baskets; events
    collapse into distinct items first (u1 fires 'a' twice)."""
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"),
            (3, "a")]
    df = spark.createDataFrame(rows, "user_id bigint, item string")
    got = {(r.ante, r.cons): (r.n_ab, r.n_a, r.n_b, r.n_keys,
                              r.support, r.confidence, r.lift)
           for r in R.association_rules(df, "user_id", "item").collect()}
    assert got[("a", "b")] == (2, 3, 2, 3, 2 / 3, 2 / 3, 1.0)
    assert got[("b", "a")] == (2, 2, 3, 3, 2 / 3, 1.0, 1.0)
    assert got[("c", "b")] == (1, 1, 2, 3, 1 / 3, 1.0, 3 / 2)
    assert len(got) == 6


def test_incremental_agg_merge_edges(spark):
    """Merge must equal recompute on the edge cases: key only in state,
    key only in delta, NULL key, NULL-sum groups staying NULL, and
    associativity (two chained merges = one)."""
    schema = "k string, v long"
    old = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), (None, 5)], schema)
    d1 = spark.createDataFrame([("a", 10), ("c", 7)], schema)
    d2 = spark.createDataFrame([("b", None), (None, None)], schema)
    aggs = {"n": ("count", None), "s": ("sum", "v"),
            "lo": ("min", "v"), "hi": ("max", "v")}

    def full(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("lo"), F.max("v").alias("hi"))

    state = full(old)
    m1 = R.incremental_agg_merge(state, d1, ["k"], aggs)
    m2 = R.incremental_agg_merge(m1, d2, ["k"], aggs)
    want = {r.k: (r.n, r.s, r.lo, r.hi)
            for r in full(old.union(d1).union(d2)).collect()}
    got = {r.k: (r.n, r.s, r.lo, r.hi) for r in m2.collect()}
    assert got == want
    assert want["b"] == (2, None, None, None)  # NULL sums stay NULL
    assert None in want  # NULL key survives the null-safe merge join


def test_nearest_event_join_semantics(spark):
    """Nearest must pick forward matches too (unlike as-of backward),
    honor the tolerance bound, break exact ties to the earlier right
    row, and collapse duplicate bucket meetings to one winner."""
    from datetime import datetime

    base = datetime(2024, 1, 1, 12, 0, 0)

    def at(sec):
        return datetime(2024, 1, 1, 12, 0, 0).replace(
            minute=(sec // 60) % 60, second=sec % 60)

    left = spark.createDataFrame(
        [(1, 100, at(600)),     # clicks at 590 & 610: tie → earlier (590)
         (1, 101, at(1200)),    # only forward click (1205) in range
         (2, 102, at(600))],    # nothing within tolerance
        "user_id bigint, purchase_id bigint, ts timestamp")
    right = spark.createDataFrame(
        [(1, 900, at(590)), (1, 901, at(610)), (1, 902, at(1205)),
         (2, 903, at(1500))],
        "user_id bigint, click_id bigint, ts2 timestamp")
    got = {r.purchase_id: (r.click_id, r.diff_us)
           for r in R.nearest_event_join(
               left, right, "ts", "ts2", ["user_id"],
               60_000_000, "purchase_id", "click_id").collect()}
    assert got == {100: (900, 10_000_000),   # tie → earlier click 590
                   101: (902, 5_000_000)}    # forward match
    assert 102 not in got                     # out of tolerance drops


def test_moments_match_direct_computation(spark, tmp_path):
    """Skewness / excess kurtosis from raw power sums must match the
    straight central-moment computation (python floats) to the
    9-decimal rounding the query promises."""
    import math

    from map_reduce_folds_spark.queries.relational import (
        moments_per_event_type,
    )

    vals = {"a": [1.00, 2.00, 2.00, 3.00, 10.00],
            "b": [5.00, 5.00, 5.00, 5.01]}
    rows = [(i, t, v) for t, vs in vals.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    ).withColumn("ts", F.timestamp_micros(F.col("event_id"))) \
     .withColumn("user_id", F.lit(1)).withColumn("props", F.lit("{}"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: (r.n, r.mean_cents, r.var_units2, r.skewness,
                          r.excess_kurtosis)
           for r in moments_per_event_type(spark, str(tmp_path)).collect()}
    for t, vs in vals.items():
        xs = [round(v * 100) for v in vs]
        n = len(xs)
        m = sum(xs) / n
        m2 = sum((x - m) ** 2 for x in xs) / n
        m3 = sum((x - m) ** 3 for x in xs) / n
        m4 = sum((x - m) ** 4 for x in xs) / n
        gn, gm, gv, gs, gk = got[t]
        assert gn == n
        assert math.isclose(gm, m, abs_tol=1e-9)
        assert math.isclose(gv, m2 / 1e4, rel_tol=1e-9)
        assert math.isclose(gs, m3 / m2 ** 1.5, rel_tol=1e-6)
        assert math.isclose(gk, m4 / m2 ** 2 - 3.0, rel_tol=1e-6)
    assert got["a"][3] > 1.0  # the 10.00 outlier skews right


def test_activity_streaks_islands(spark, tmp_path):
    """Rank-difference islands: consecutive days fuse across month
    boundaries, gaps split, multiple same-day events collapse, and a
    single-day user is one streak of length 1."""
    from datetime import datetime

    from map_reduce_folds_spark.queries.relational import activity_streaks

    rows = [
        # u1: Jan 30, 31, Feb 1 (one 3-day streak spanning the month
        # boundary), then Feb 5 (second streak)
        (1, 1, datetime(2024, 1, 30, 9)), (2, 1, datetime(2024, 1, 30, 21)),
        (3, 1, datetime(2024, 1, 31, 12)), (4, 1, datetime(2024, 2, 1, 3)),
        (5, 1, datetime(2024, 2, 5, 8)),
        # u2: one day only
        (6, 2, datetime(2024, 3, 1, 0)),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp"
    ).withColumn("event_type", F.lit("click")) \
     .withColumn("value", F.lit(1.0)).withColumn("props", F.lit("{}"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak)
           for r in activity_streaks(spark, str(tmp_path)).collect()}
    assert got == {1: (4, 2, 3), 2: (1, 1, 1)}


def test_sorted_neighborhood_pairs_window_semantics(spark):
    """SNB pairs = exactly the (window−1)·adjacent positional pairs of
    the key sort — including across bucket boundaries (the equi-blocking
    failure mode it exists to fix); candidate count is linear."""
    from map_reduce_folds_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{i:03d}") for i in range(1, 8)]  # sort = id order
    df = spark.createDataFrame(rows, "id bigint, name string")
    got = {(r.id_a, r.id_b, r.dist)
           for r in sorted_neighborhood_pairs(
               df, "id", "name",
               bucket=F.substring("name", 2, 2),  # k00|k00|...boundary k0X
               window=3).collect()}
    want = {(i, i + d, d) for i in range(1, 8) for d in (1, 2)
            if i + d <= 7}
    assert got == want  # 6 + 5 = 11 pairs, linear in n
    # boundary pair: ids 6(k006) and 7(k007) sit in different buckets
    # ('00' vs '00'... use ids 9,10 style) — assert cross-bucket pairs
    rows2 = [(9, "k009"), (10, "k010"), (11, "k011")]
    df2 = spark.createDataFrame(rows2, "id bigint, name string")
    got2 = {(r.id_a, r.id_b)
            for r in sorted_neighborhood_pairs(
                df2, "id", "name",
                bucket=F.substring("name", 2, 2), window=2).collect()}
    # buckets '00' vs '01' — the (9,10) pair crosses the boundary
    assert got2 == {(9, 10), (10, 11)}


def test_group_percentiles_hist_equals_single_sort(spark):
    """Histogram-refinement selection must be pick-for-pick identical to
    the single-sort form: hand cases, random integer groups (skewed and
    uniform, negatives, heavy duplicates), and tiny nbuckets so multiple
    refinement buckets genuinely carry mass."""
    import random

    rng = random.Random(41)
    rows = [("a", v) for v in (10, 20, 30, 40)] \
        + [("b", v) for v in range(1, 101)] \
        + [("c", 5), ("c", 5), ("c", 9)]
    for g, lo, hi, n in [("u", -50, 50, 137), ("s", 0, 5, 200),
                         ("w", -10**9, 10**9, 61), ("one", 7, 7, 9)]:
        rows += [(g, rng.randint(lo, hi)) for _ in range(n)]
    df = spark.createDataFrame(rows, "g string, v long")
    for qs in [(50, 95), (1, 25, 50, 75, 99, 100)]:
        for nb in (4, 8192):
            want = {tuple(r) for r in W.group_percentiles_nearest_rank(
                df, ["g"], "v", qs=qs).collect()}
            got = {tuple(r) for r in W.group_percentiles_hist(
                df, ["g"], "v", qs=qs, nbuckets=nb).collect()}
            assert got == want, (qs, nb)


def test_group_percentiles_hist_rejects_bad_q(spark):
    df = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError):
        W.group_percentiles_hist(df, ["g"], "v", qs=(0,))
    with pytest.raises(ValueError):
        W.group_percentiles_hist(df, ["g"], "v", qs=(101,))


def test_autocorr_known_series(spark):
    """Alternating daily counts → strongly negative lag-1 r (exactly −1
    for a 2-value alternation); constant series → NULL (zero variance)."""
    import os
    import tempfile

    from map_reduce_folds_spark.queries.relational import (
        autocorr_daily_events)

    rows = []
    eid = 0
    day_us = 86_400_000_000
    for d in range(6):
        n = 3 if d % 2 == 0 else 1
        for _ in range(n):
            rows.append((eid, 1, "alt", d * day_us)); eid += 1
    for d in range(4):
        for _ in range(2):
            rows.append((eid, 1, "const", d * day_us)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, tus long"
    ).select("event_id", "user_id", "event_type",
             F.timestamp_micros("tus").alias("ts"))
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        got = {r.event_type: (r.n, r.autocorr)
               for r in autocorr_daily_events(spark, td).collect()}
    assert got["const"] == (3, None)
    n, r = got["alt"]
    assert n == 5 and r == -1.0


def test_k_anonymity_hand_case(spark):
    """Groups of sizes 1, 2, 5: at k=2 one group (1 row) at risk; at k=5
    two groups (3 rows); at k=10 all three (8 rows)."""
    import os
    import tempfile

    from map_reduce_folds_spark.queries.relational import k_anonymity_audit

    rows = [(i, 1, "A") for i in range(1)] \
        + [(10 + i, 1, "B") for i in range(2)] \
        + [(20 + i, 2, "A") for i in range(5)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "c_custkey long, c_nationkey long, c_mktsegment string"
        ).write.parquet(os.path.join(td, "customer.parquet"))
        got = {r.k: (r.n_groups, r.min_group_size, r.groups_below_k,
                     r.rows_at_risk)
               for r in k_anonymity_audit(spark, td).collect()}
    assert got[2] == (3, 1, 1, 1)
    assert got[5] == (3, 1, 2, 3)
    assert got[10] == (3, 1, 3, 8)


def test_weekday_profile_shares_sum_to_one(spark):
    from map_reduce_folds_spark.queries.relational import (
        weekday_profile_events)
    from tests.conftest import SF_DIR

    rows = weekday_profile_events(spark, SF_DIR).collect()
    assert rows and all(0 <= r.dow <= 6 for r in rows)
    per = {}
    for r in rows:
        per[r.event_type] = per.get(r.event_type, 0.0) + r.share
    assert all(abs(v - 1.0) < 1e-9 for v in per.values())


def test_hhi_known_values(spark):
    """Two regions: monopoly (one supplier) → HHI 1.0; two equal
    suppliers → 0.5; three suppliers at 2:1:1 → (4+1+1)/16 = 0.375."""
    import os
    import tempfile

    from map_reduce_folds_spark.queries.relational import (
        hhi_supplier_concentration)

    sup = [(1, 10), (2, 20), (3, 20), (4, 30), (5, 30), (6, 30)]
    nat = [(10, 100), (20, 200), (30, 300)]
    li = [(1, 1, 50.0, 0.0)] \
        + [(2, 2, 25.0, 0.0), (3, 3, 25.0, 0.0)] \
        + [(4, 4, 20.0, 0.0), (5, 5, 10.0, 0.0), (6, 6, 10.0, 0.0)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(sup, "s_suppkey long, s_nationkey long") \
            .write.parquet(os.path.join(td, "supplier.parquet"))
        spark.createDataFrame(nat, "n_nationkey long, n_regionkey long") \
            .write.parquet(os.path.join(td, "nation.parquet"))
        spark.createDataFrame(
            li, "l_orderkey long, l_suppkey long, l_extendedprice double, "
                "l_discount double"
        ).withColumn("l_shipdate", F.to_date(F.lit("1995-01-01"))) \
            .write.parquet(os.path.join(td, "lineitem.parquet"))
        got = {r.region: (r.n_suppliers, r.hhi)
               for r in hhi_supplier_concentration(spark, td).collect()}
    assert got[100] == (1, 1.0)
    assert got[200] == (2, 0.5)
    assert got[300] == (3, 0.375)


def test_ols2_recovers_planted_coefficients(spark):
    """On noiseless integer data y = 3 + 2*x1 - 5*x2 the closed-form
    normal-equation solve returns the planted coefficients (to the
    9-decimal output rounding) with r2 = 1; a collinear group
    (x2 = 2*x1, det = 0) is excluded rather than emitting NaN."""
    from map_reduce_folds_spark.operators.relational import ols2_fit

    rows = []
    for i in range(40):
        x1, x2 = i % 7, (i * 3) % 5
        rows.append(("ok", 3 + 2 * x1 - 5 * x2, x1, x2))
    for i in range(10):
        rows.append(("collinear", i, i, 2 * i))
    df = spark.createDataFrame(
        rows, "g string, y bigint, x1 bigint, x2 bigint")
    got = {r["g"]: r for r in
           ols2_fit(df, "y", "x1", "x2", ("g",)).collect()}
    assert "collinear" not in got
    ok = got["ok"]
    assert ok["n"] == 40
    assert abs(ok["b0"] - 3.0) < 1e-9
    assert abs(ok["b1"] - 2.0) < 1e-9
    assert abs(ok["b2"] - (-5.0)) < 1e-9
    assert ok["r2"] == 1.0


def test_ols2_matches_numpy_lstsq(spark):
    """On noisy integer data the solve agrees with numpy's least
    squares to ~1e-9 relative (different algorithm, same minimizer)."""
    import numpy as np

    from map_reduce_folds_spark.operators.relational import ols2_fit

    rng = np.random.RandomState(13)
    x1 = rng.randint(0, 100, 300)
    x2 = rng.randint(0, 50, 300)
    y = (7 * x1 - 3 * x2 + rng.randint(-20, 21, 300) + 500)
    df = spark.createDataFrame(
        [(int(y[i]), int(x1[i]), int(x2[i])) for i in range(300)],
        "y bigint, x1 bigint, x2 bigint")
    r = ols2_fit(df, "y", "x1", "x2").collect()[0]
    A = np.column_stack([np.ones(300), x1, x2])
    ref, *_ = np.linalg.lstsq(A, y.astype(float), rcond=None)
    assert abs(r["b0"] - ref[0]) < 1e-6 * max(1.0, abs(ref[0]))
    assert abs(r["b1"] - ref[1]) < 1e-9 * max(1.0, abs(ref[1]))
    assert abs(r["b2"] - ref[2]) < 1e-9 * max(1.0, abs(ref[2]))
    assert 0.9 < r["r2"] <= 1.0


def test_multi_touch_attribution_hand_case(spark):
    """Known splits: a purchase with 3 in-window touches splits
    cents*1000 by floor division with the remainder on the LAST touch
    (conservation exact); out-of-window and post-conversion touches are
    ignored; an untouched purchase lands in 'direct'."""
    from datetime import datetime, timedelta

    from map_reduce_folds_spark.operators.windows import (
        multi_touch_attribution,
    )

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: purchase 10.01 at t0 with touches at -10m/-5m/-1m
        (1, t0 - timedelta(minutes=10), 1, "view", 0.0),
        (2, t0 - timedelta(minutes=5), 1, "click", 0.0),
        (3, t0 - timedelta(minutes=1), 1, "click", 0.0),
        (4, t0, 1, "purchase", 10.01),
        (5, t0 - timedelta(hours=2), 1, "view", 0.0),    # out of window
        (6, t0 + timedelta(minutes=1), 1, "click", 0.0),  # after conv
        # user 2: untouched purchase 5.00
        (7, t0, 2, "purchase", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
              " event_type string, value double")
    got = {r["touch_type"]: (r["n_touches"], r["attributed_micro"])
           for r in multi_touch_attribution(
               df, "user_id", "ts", "event_type", "value",
               conversion="purchase", touch_types=("view", "click"),
               within_us=3_600_000_000, tiebreak_col="event_id").collect()}
    units = 1001 * 1000          # 10.01 -> 1001 cents -> 1001000 micro
    base = units // 3            # 333666
    rem = units - 3 * base       # 2 -> last touch (eid 3, a click)
    assert got["view"] == (1, base)
    assert got["click"] == (2, 2 * base + rem)
    assert got["direct"] == (1, 5 * 100 * 1000)
    total = sum(v for _n, v in got.values())
    assert total == units + 500000  # conservation: every micro accounted


def test_join_size_audit_identity_and_ranks(spark):
    """The audit's total equals the actual join's count (identity, not
    estimate); hottest keys rank by pair product with value-based
    deterministic ties; keys absent from either side contribute 0."""
    from map_reduce_folds_spark.operators.relational import join_size_audit

    left = spark.createDataFrame(
        [(k,) for k in [1] * 5 + [2] * 3 + [3] * 1 + [4] * 2], "k bigint")
    right = spark.createDataFrame(
        [(k,) for k in [1] * 4 + [2] * 6 + [3] * 9 + [5] * 7], "k bigint")
    rows = join_size_audit(left, right, "k", "k", top_n=3).collect()
    by_rank = {r["rank"]: r for r in rows}
    true_join = left.join(right, "k").count()
    assert by_rank[0]["join_rows"] == true_join == 5 * 4 + 3 * 6 + 1 * 9
    # products: k1=20, k2=18, k3=9 -> ranks 1,2,3; k4/k5 one-sided
    assert (by_rank[1]["key"], by_rank[1]["pairs"]) == ("1", 20)
    assert (by_rank[2]["key"], by_rank[2]["pairs"]) == ("2", 18)
    assert (by_rank[3]["key"], by_rank[3]["pairs"]) == ("3", 9)
    assert by_rank[1]["top_share"] == round(20 / 47, 9)


def test_ols2_large_magnitude_no_overflow(spark):
    """Per-row moment products stage to DECIMAL BEFORE multiplying:
    values past the int64 y*y wrap point (~3.04e9) still solve exactly
    (planted line recovered) instead of silently corrupting syy/r2."""
    from map_reduce_folds_spark.operators.relational import ols2_fit

    big = 4_000_000_000  # y*y = 1.6e19 > 2^63-1
    rows = [(big + 2 * x1 - 5 * x2, x1, x2)
            for x1 in range(8) for x2 in range(5)]
    df = spark.createDataFrame(rows, "y bigint, x1 bigint, x2 bigint")
    r = ols2_fit(df, "y", "x1", "x2").collect()[0]
    assert abs(r["b0"] - big) < 1e-3    # 9-sig-digit double of 4e9
    assert abs(r["b1"] - 2.0) < 1e-6
    assert abs(r["b2"] - (-5.0)) < 1e-6
    assert r["r2"] == 1.0


def test_multi_touch_attribution_requires_tiebreak(spark):
    import pytest as _pytest

    from map_reduce_folds_spark.operators.windows import (
        multi_touch_attribution,
    )

    with _pytest.raises(ValueError, match="tiebreak_col"):
        multi_touch_attribution(None, "u", "ts", "e", "v",
                                conversion="purchase",
                                touch_types=("view",))


def test_golden_record_survivorship_rules(spark):
    """Each attribute resolves by its declared rule inside a planted
    3-member cluster; a singleton is its own golden record."""
    from map_reduce_folds_spark.operators import graph as G2
    from pyspark.sql import functions as F

    c = spark.createDataFrame(
        [(1, "Customer#A", 0, 50.0, "AUTO"),
         (2, "Customer#AB", 0, 90.0, "BIKE"),
         (3, "Customer#AA", 0, 90.0, "SHIP"),
         (9, "Zed", 1, 10.0, "RAIL")],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    comp = G2.connected_components(pairs, "id_a", "id_b")
    lab = (c.join(comp.withColumnRenamed("node", "c_custkey"),
                  "c_custkey", "left")
           .withColumn("cluster",
                       F.coalesce(F.col("component"), F.col("c_custkey"))))
    name_pick = F.min(F.struct(
        (-F.length("c_name")).alias("nl"),
        F.col("c_name").alias("nm")))["nm"]
    seg_pick = F.max(F.struct(
        F.col("c_acctbal").alias("ab"),
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("seg")))["seg"]
    out = {r["cluster"]: r for r in lab.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        name_pick.alias("name"),
        F.max("c_acctbal").alias("acctbal"),
        seg_pick.alias("mktsegment")).collect()}
    g = out[1]
    assert g["n_members"] == 3
    # longest names are Customer#AB / Customer#AA (len 11); min wins
    assert g["name"] == "Customer#AA"
    assert g["acctbal"] == 90.0
    # balance tie 90.0 between custkey 2 and 3 -> higher custkey wins MAX
    assert g["mktsegment"] == "SHIP"
    assert out[9]["n_members"] == 1 and out[9]["name"] == "Zed"


def test_xcorr_lag0_matches_numpy_and_symmetry(spark):
    """Registered lead-lag query: lag 0 equals numpy's Pearson r of the
    aligned dense daily series (to the 9-decimal round), and every lag's
    n equals span - |lag|."""
    import numpy as np
    from map_reduce_folds_spark.queries.relational import (
        xcorr_views_purchases_daily)
    sf = "/root/testdata/sf0.001"
    out = {r["lag"]: r for r in
           xcorr_views_purchases_daily(spark, sf).collect()}
    import duckdb
    dense = duckdb.sql(f"""
        WITH ev AS (SELECT event_type,
                    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d
                    FROM '{sf}/events.parquet'),
        span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ev),
        grid AS (SELECT unnest(range(lo, hi + 1)) AS d FROM span)
        SELECT g.d,
               COALESCE((SELECT COUNT(*) FROM ev
                         WHERE event_type = 'view' AND ev.d = g.d), 0) AS x,
               COALESCE((SELECT COUNT(*) FROM ev
                         WHERE event_type = 'purchase' AND ev.d = g.d), 0) AS y
        FROM grid g ORDER BY d""").df()
    x, y = dense["x"].to_numpy(float), dense["y"].to_numpy(float)
    span = len(x)
    r0 = np.corrcoef(x, y)[0, 1]
    assert abs(out[0]["xcorr"] - r0) < 1e-8
    for lag, r in out.items():
        assert r["n"] == span - abs(lag)


def test_zorder_value_interleaves_bits(spark):
    """Morton interleave: q1 bits land at even positions, q2 at odd."""
    from map_reduce_folds_spark.operators.relational import (
        zorder_value, zorder_quantize)
    df = spark.createDataFrame(
        [(0b11, 0b00), (0b00, 0b11), (0b10, 0b01), (255, 255)],
        "q1 bigint, q2 bigint")
    out = [r["z"] for r in
           df.select(zorder_value(F.col("q1"), F.col("q2"), 8)
                     .alias("z")).collect()]
    assert out[0] == 0b0101          # q1=3 -> bits 0 and 2
    assert out[1] == 0b1010          # q2=3 -> bits 1 and 3
    assert out[2] == 0b0110          # q1 bit1 -> pos2; q2 bit0 -> pos1
    assert out[3] == (1 << 16) - 1   # all 16 bits set
    # quantize endpoints: lo -> 0, hi -> 2^bits - 1, degenerate -> 0
    qdf = spark.createDataFrame([(10, 10, 50), (50, 10, 50),
                                 (30, 10, 50), (7, 7, 7)],
                                "v bigint, lo bigint, hi bigint")
    qs = [r["q"] for r in qdf.select(
        zorder_quantize(F.col("v"), F.col("lo"), F.col("hi"), 8)
        .alias("q")).collect()]
    assert qs[0] == 0 and qs[1] == 255
    assert qs[2] == (20 * 255) // 40
    assert qs[3] == 0


def test_zorder_sql_mirror_matches_spark(spark):
    """The DuckDB text of zorder_value agrees with the Spark column on
    a sweep of the full 8-bit grid corners and random-ish points."""
    import duckdb
    from map_reduce_folds_spark.operators.relational import (
        zorder_value, zorder_value_sql)
    pts = [(a, b) for a in (0, 1, 2, 3, 85, 170, 254, 255)
           for b in (0, 1, 2, 3, 85, 170, 254, 255)]
    df = spark.createDataFrame(pts, "q1 bigint, q2 bigint")
    got = {(r["q1"], r["q2"]): r["z"] for r in
           df.select("q1", "q2",
                     zorder_value(F.col("q1"), F.col("q2"), 8)
                     .alias("z")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (q1 BIGINT, q2 BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pts)
    want = {(q1, q2): z for q1, q2, z in con.sql(
        f"SELECT q1, q2, {zorder_value_sql('q1', 'q2', 8)} AS z FROM t"
    ).fetchall()}
    assert got == want
