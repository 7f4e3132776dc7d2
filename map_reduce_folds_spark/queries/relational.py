"""Relational operator queries (SURVEY §2.7 GAP rows) with DuckDB oracles.

Joins (all types + broadcast), sort/limit/top-k, set ops, distinct,
rollup/cube/grouping-sets, window functions, scalar-function passthrough,
and three TPC-H-shaped multi-join aggregations as the headline queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_folds_spark import folds
from map_reduce_folds_spark.core import Assign, FoldReduce, MapReduce, Melt
from map_reduce_folds_spark.operators import graph as G
from map_reduce_folds_spark.operators import relational as R
from map_reduce_folds_spark.operators import sketches as K
from map_reduce_folds_spark.operators import windows as W
from map_reduce_folds_spark.queries.registry import query
from map_reduce_folds_spark.sources import load_table
from map_reduce_folds_spark.timeutil import epoch_us, to_utc_timestamp


def _dec(col: str, prec: int = 12, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({prec},{scale})")


# revenue term used by the TPC-H-ish queries: exact decimal arithmetic so
# the sum is bitwise-reproducible vs DuckDB (policy in __spark_entry__).
def _revenue() -> F.Column:
    return _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))


_REV_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@query(
    "join_orders_customer",
    oracle="""
    SELECT c.c_mktsegment AS seg, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join fact→dim with broadcast (customer is dimension-sized)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = R.join(o, c, on=o.o_custkey == c.c_custkey, broadcast_right=True)
    return j.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey AS custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeps order-less customers (COUNT(col) skips nulls)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = R.join(c, o, on=c.c_custkey == o.o_custkey, how="left")
    return j.groupBy(F.col("c_custkey").alias("custkey")).agg(
        F.count("o_orderkey").alias("n_orders")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_mktsegment AS seg, COUNT(*) AS n_cust
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    GROUP BY 1
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having a >100k order, counted per segment."""
    o = load_table(spark, sf_dir, "orders").filter("o_totalprice > 100000")
    c = load_table(spark, sf_dir, "customer")
    j = R.join(c, o, on=c.c_custkey == o.o_custkey, how="semi")
    return j.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_mktsegment AS seg, COUNT(*) AS n_cust
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY 1
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order above 300k."""
    o = load_table(spark, sf_dir, "orders").filter("o_totalprice > 300000")
    c = load_table(spark, sf_dir, "customer")
    j = R.join(c, o, on=c.c_custkey == o.o_custkey, how="anti")
    return j.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )


@query(
    "join_broadcast_dims",
    oracle=f"""
    SELECT r.r_name AS region, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema chain: fact lineitem joined to three broadcast dims —
    zero fact-side shuffles before the final aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = R.join(li, s, li.l_suppkey == s.s_suppkey, broadcast_right=True)
    j = R.join(j, n, F.col("s_nationkey") == n.n_nationkey, broadcast_right=True)
    j = R.join(j, r, F.col("n_regionkey") == r.r_regionkey, broadcast_right=True)
    return j.groupBy(F.col("r_name").alias("region")).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped headline queries
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_REV_SQL} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-table scan + 8-fold aggregation — the classic
    map-side-combine showcase (one shuffle of 6 tiny groups).

    Exact-sum strategy: LONG-backed integer-scaled sums instead of wide
    decimal sums.  The per-row decimal cast still fixes the exact 2-dp
    value (identical rounding to the oracle's DECIMAL(12,2) cast), but the
    money then travels as bigint cents / 1e-4 / 1e-6 units, so the
    aggregation buffers are plain longs inside whole-stage codegen rather
    than >18-digit decimals (which fall off Spark's compact-long decimal
    representation onto per-row BigDecimal).  Measured 1.14 s → 0.78 s at
    sf0.1; results bitwise identical (the final decimal division restores
    the exact rational before one cast to double, so the value equals
    CAST(exact_decimal_sum AS DOUBLE) by correct rounding).

    Overflow guard: ANSI mode (Spark 4 default) makes a long-sum overflow
    raise ARITHMETIC_OVERFLOW — a loud failure, never a wrong answer.
    Capacity per GROUP at TPC-H value magnitudes: cents sums ~2e12 rows,
    rev (1e-4 units) ~2e10 rows, charge (1e-6 units) ~2e8 rows.  Q1 groups
    by (returnflag, linestatus) — 6 groups — so past ~1e9 rows per group
    (roughly SF > a few hundred) switch sum_charge back to the decimal
    form (the pre-round-5 body in git history) or add a coarser unit."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    price_c = (_dec("l_extendedprice") * 100).cast("bigint")
    disc_c = (_dec("l_discount", 4, 2) * 100).cast("bigint")
    tax_c = (_dec("l_tax", 4, 2) * 100).cast("bigint")
    rev_e4 = price_c * (F.lit(100).cast("bigint") - disc_c)
    charge_e6 = rev_e4 * (F.lit(100).cast("bigint") + tax_c)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum(price_c).cast("decimal(38,2)") / F.lit(100))
        .cast("double").alias("sum_base_price"),
        (F.sum(rev_e4).cast("decimal(38,4)") / F.lit(10_000))
        .cast("double").alias("sum_disc_price"),
        (F.sum(charge_e6).cast("decimal(38,6)") / F.lit(1_000_000))
        .cast("double").alias("sum_charge"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        ((F.sum(disc_c).cast("decimal(38,2)") / F.lit(100)).cast("double")
         / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           epoch_us(o.o_orderdate) AS orderdate_us
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY 1, 3
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter broadcast into two fact joins,
    aggregate, global top-10 (TakeOrderedAndProject — no full sort).
    Tie-break on orderkey makes the limit boundary deterministic."""
    c = load_table(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    j = R.join(o, c, F.col("o_custkey") == F.col("c_custkey"), broadcast_right=True)
    j = R.join(li, j, F.col("l_orderkey") == F.col("o_orderkey"))
    agg = j.groupBy(
        F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate")
    ).agg(F.sum(_revenue()).cast("double").alias("revenue"))
    return R.topk(agg, [F.col("revenue").desc(), F.col("orderkey")], 10).select(
        "orderkey", "revenue", epoch_us(F.col("orderdate")).alias("orderdate_us")
    )


@query(
    "q5_local_supplier",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a same-nation equi-constraint;
    dims broadcast, facts join on their natural keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter("r_name = 'ASIA'")

    j = R.join(o, F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    j = R.join(li, j, F.col("l_orderkey") == F.col("o_orderkey"))
    j = R.join(
        j, s,
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
        broadcast_right=True,
    )
    j = R.join(j, n, F.col("s_nationkey") == F.col("n_nationkey"), broadcast_right=True)
    j = R.join(j, r, F.col("n_regionkey") == F.col("r_regionkey"), broadcast_right=True)
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(_revenue()).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k / windows
# ---------------------------------------------------------------------------

@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey AS orderkey, o_totalprice AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return R.topk(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 100).select(
        F.col("o_orderkey").alias("orderkey"), F.col("o_totalprice").alias("price")
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT seg, orderkey, price FROM (
        SELECT c.c_mktsegment AS seg, o.o_orderkey AS orderkey,
               o.o_totalprice AS price,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: row_number window after a broadcast join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = R.join(o, c, o.o_custkey == c.c_custkey, broadcast_right=True).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("price"),
    )
    return R.topk_per_group(
        j, ["seg"], [F.col("price").desc(), F.col("orderkey")], 3
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer in order-date order (unique tie-break)."""
    o = load_table(spark, sf_dir, "orders")
    out = W.running(
        o,
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate"), F.col("o_orderkey")],
        aggs={"running_total": F.sum(_dec("o_totalprice"))},
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("running_total").cast("double").alias("running_total"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           LAG(o_totalprice, 1) OVER w AS o_totalprice_lag1,
           LEAD(o_totalprice, 1) OVER w AS o_totalprice_lead1
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    out = W.lag_lead(o, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")],
                     "o_totalprice")
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        "o_totalprice_lag1", "o_totalprice_lead1",
    )


@query(
    "window_rank_vocab",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           rnk, dense_rnk, pct_rank, cume
    FROM (
        SELECT o_custkey, o_orderkey,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS dense_rnk,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    )
    """,
)
def window_rank_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass rank vocabulary (rank / dense_rank / percent_rank /
    cume_dist) per customer ordered by order date.  Only the tie-stable
    functions are exposed to the oracle — row_number/ntile under ties are
    engine-order-dependent; their deterministic (unique-tiebreaker) path
    is unit-tested in test_relational."""
    o = load_table(spark, sf_dir, "orders")
    out = W.rank_vocab(o, ["o_custkey"], [F.col("o_orderdate")])
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        "rnk", "dense_rnk", "pct_rank", F.col("cume").alias("cume"),
    )


@query(
    "array_functions",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(tk, t -> length(t) > 4)) AS INT) AS n_long,
           array_to_string(list_slice(list_sort(list_distinct(tk)), 1, 3), '|')
               AS first3,
           len(list_filter(tk, t -> t SIMILAR TO '[0-9]+')) > 0 AS has_num
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function vocabulary (filter / exists / sort /
    distinct / slice / join) — all Catalyst HOFs, no Python; the DuckDB
    list_* mirrors pin cross-engine semantics (first-occurrence distinct
    is order-insensitive here because both sides sort after)."""
    from map_reduce_folds_spark.operators.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    tk = tokenize("text")
    return d.select(
        "doc_id",
        F.size(F.filter(tk, lambda t: F.length(t) > 4)).alias("n_long"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(tk)), 1, 3), "|")
        .alias("first3"),
        F.exists(tk, lambda t: t.rlike("^[0-9]+$")).alias("has_num"),
    )


@query(
    "window_time_range",
    oracle="""
    SELECT event_id, user_id, n_1h, sum_1h FROM (
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_1h,
               CAST(SUM(cents) OVER w AS BIGINT) AS sum_1h
        FROM (SELECT event_id, user_id, epoch_us(ts) AS tus,
                     CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY tus
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    """,
)
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME range frame: per user, count and sum of activity in the
    trailing hour of each event — a true time-window (RANGE on epoch
    micros), not a row-count frame; frames are value-defined so the
    result is order-deterministic even under timestamp ties.  Integer
    cents keep the windowed sum exact."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("tus"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id").orderBy("tus")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("sum_1h"),
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id,
               CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sessions GROUP BY 1, 2
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via lag + running-sum windows,
    aggregated to session sizes.  events.ts is strictly increasing per the
    generator, so ordering by (ts, event_id) is total."""
    e = load_table(spark, sf_dir, "events")
    s = W.sessionize(e, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "sessionize_stream_stateful",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                         OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) AS session_end_us,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def sessionize_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING path, driver-verified: events replayed as a
    file stream through ``streaming.sessionize_stateful`` (GroupState /
    ``applyInPandasWithState``, event-time timers) must emit exactly the
    batch sessionization — every (user, session) with its event-time
    bounds and size.  Deterministic close: a far-future sentinel key
    unioned into the stream advances the watermark past every
    ``session_end + gap``, so each user's final open session closes by
    TIMER (the no-data microbatch) while earlier ones close in-batch by
    the gap rule — the streaming/batch equivalence the r10 verdict asked
    to put under the CORRECTNESS gate (previously unit-tested only,
    tests/test_streaming.py::test_sessionize_stateful_timer_close)."""
    import datetime as dt
    import os

    import pyarrow as pa

    from map_reduce_folds_spark.streaming import (
        replay_to_memory, sessionize_stateful)

    # ONE micro-batch takes the events and a sentinel row (a sentinel-first
    # batch would make every real event late against the advanced
    # watermark).  The sentinel stays off Spark: a one-row coalesce(1)
    # write of a local relation drains every pickled slice through one
    # task (~4 s).  TIMESTAMP(MICROS) matches the Spark writer's output.
    sentinel = pa.table({"user_id": pa.array([-1], pa.int64()),
                         "ts": pa.array([dt.datetime(2100, 1, 1)],
                                        pa.timestamp("us"))})
    got = replay_to_memory(
        spark, [[sentinel, os.path.join(sf_dir, "events.parquet")]],
        "user_id bigint, ts timestamp",
        lambda stream: sessionize_stateful(
            stream.withWatermark("ts", "0 seconds"), ["user_id"], "ts",
            gap_seconds=1800),
        "sessionize_stream_stateful_q", "append", max_files_per_trigger=1000)
    return got.where(F.col("user_id") >= 0).select(
        "user_id", "session_start_us", "session_end_us", "n_events")


def _split_at_median_ts(ev: DataFrame) -> list[DataFrame]:
    """``ev`` split at its (approximate) median ``ts`` into two replay
    batches: every event with ts ≤ cut, then the rest — so equal
    timestamps share a batch and each key's events arrive in
    nondecreasing event time across the two."""
    cut = ev.agg(F.percentile_approx("ts", 0.5).alias("c")).first()["c"]
    return [ev.where(F.col("ts") <= F.lit(cut)),
            ev.where(F.col("ts") > F.lit(cut))]


def _final_state(got: DataFrame, key: str, n_col: str, *cols: str) \
        -> DataFrame:
    """Final per-key state of an update-mode stream: the emission with the
    largest ``n_col`` (a count, monotone per key), as ``key, n_col,
    *cols``."""
    return (got.groupBy(key)
            .agg(F.max_by(F.struct(n_col, *cols), n_col).alias("s"))
            .select(key, "s.*"))


# ---------------------------------------------------------------------------
# Set ops / distinct / grouping sets
# ---------------------------------------------------------------------------

@query(
    "set_union_distinct",
    oracle="""
    SELECT custkey, COUNT(*) AS n FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    ) GROUP BY 1
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter("c_acctbal > 5000").select(
        F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").filter("o_totalprice > 200000").select(
        F.col("o_custkey").alias("custkey"))
    return R.union_distinct(c, o).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "set_intersect",
    oracle="""
    SELECT custkey FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    )
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter("c_acctbal > 5000").select(
        F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").filter("o_totalprice > 200000").select(
        F.col("o_custkey").alias("custkey"))
    return R.intersect(c, o)


@query(
    "set_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter("c_acctbal > 5000").select(
        F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").filter("o_totalprice > 200000").select(
        F.col("o_custkey").alias("custkey"))
    return R.except_(c, o)


@query(
    "distinct_counts",
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY 1
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "rollup_region_nation",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_cust
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (region, nation)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals — one Expand+Aggregate pass."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = R.join(c, n, c.c_nationkey == n.n_nationkey, broadcast_right=True)
    j = R.join(j, r, F.col("n_regionkey") == r.r_regionkey, broadcast_right=True)
    j = j.select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
    return R.rollup_agg(j, ["region", "nation"], {"n_cust": F.count(F.lit(1))})


@query(
    "cube_flag_status",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (flag, status)
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
        "l_quantity",
    )
    return R.cube_agg(li, ["flag", "status"],
                      {"sum_qty": F.sum("l_quantity"), "n": F.count(F.lit(1))})


@query(
    "scalar_functions",
    oracle="""
    SELECT n_nationkey AS k,
           UPPER(n_name) AS uname,
           SUBSTRING(n_name, 1, 3) AS pre,
           LENGTH(n_name) AS name_len,
           CONCAT(n_name, '_', CAST(n_regionkey AS VARCHAR)) AS tagged,
           ABS(n_nationkey - 12) AS dist,
           CAST(SQRT(CAST(n_nationkey AS DOUBLE)) AS DOUBLE) AS rootk,
           n_nationkey % 5 AS m5
    FROM nation
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function passthrough (string/math) — SURVEY §2.7: the
    reference's arbitrary host-language row functions map to
    pyspark.sql.functions."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").alias("k"),
        F.upper("n_name").alias("uname"),
        F.substring("n_name", 1, 3).alias("pre"),
        F.length("n_name").cast("bigint").alias("name_len"),
        F.concat_ws("_", F.col("n_name"), F.col("n_regionkey").cast("string")).alias("tagged"),
        F.abs(F.col("n_nationkey") - 12).alias("dist"),
        F.sqrt(F.col("n_nationkey").cast("double")).alias("rootk"),
        (F.col("n_nationkey") % 5).alias("m5"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS y,
           EXTRACT(MONTH FROM o_orderdate) AS m,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


@query(
    "events_tumbling_window",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows over the events table — the batch shape of
    the streaming windowed aggregation (streaming/ runs the same plan on
    readStream)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    ).select(epoch_us(F.col("w.start")).alias("win_start_us"),
             "event_type", "n", "sum_value")


@query(
    "events_sliding_window",
    oracle="""
    SELECT (epoch_us(ts) // 900000000 - o.k) * 900000000 AS win_start_us,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events, LATERAL (SELECT unnest(range(4)) AS k) o
    GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes — each event lands in
    exactly 4 overlapping windows (the hopping-window shape of streaming
    trend monitors; ``streaming.stream_mapreduce(slide=)`` runs the same
    plan on readStream).  Spark aligns slide-grid window starts to the
    epoch, so the oracle enumerates each event's 4 windows arithmetically:
    start = (floor(us / slide) - k) · slide for k in 0..3 — every one
    satisfies start ≤ ts < start + 1h by construction."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    ).select(epoch_us(F.col("w.start")).alias("win_start_us"),
             "event_type", "n", "sum_value")


@query(
    "asof_join_purchase_click",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           epoch_us(c.ts) AS click_us, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for each purchase, the latest prior click by
    the same user.  Composition of conditional join + window dedup
    (operators/relational.asof_join); DuckDB's native ASOF JOIN is the
    oracle."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("click_value")
    )
    out = R.asof_join(purchases, clicks, on="user_id",
                      left_time="ts", right_time="c_ts")
    # emit epoch-micros (bigint) rather than a timestamp: integer micros
    # compare identically in Spark and DuckDB regardless of the fixture's
    # physical timestamp flavor (epoch_us tolerates TIMESTAMP / NTZ)
    return out.select(
        "purchase_id", "user_id",
        epoch_us(F.col("__rt")).alias("click_us"), "click_value",
    )


@query(
    "interval_join_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           count(*) AS n_clicks,
           CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) >= epoch_us(p.ts)
     AND epoch_us(c.ts) <= epoch_us(p.ts + INTERVAL 30 MINUTE)
    GROUP BY 1
    """,
)
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/relational.interval_join —
    reference analog: none, §2.7 temporal-join family): every click
    landing inside a purchase's 30-minute follow-up window, same user,
    aggregated to per-purchase click count + exact decimal value sum.
    The Spark side runs the BUCKETIZED strategy (bucket_width = the
    window length) — interval explode + one-bucket-per-point equi-join,
    the form that never builds a per-key cartesian at scale; the oracle
    is the plain BETWEEN theta-join, so the hash match also re-proves
    the bucket decomposition exact on real data."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        to_utc_timestamp("ts").alias("w_start"),
        (to_utc_timestamp("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    clicks = e.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("c_ts"), F.col("value").alias("cv"),
    )
    j = R.interval_join(clicks, purchases, "c_ts", "w_start", "w_end",
                        on="user_id", bucket_width=1800.0)
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(F.col("cv").cast("decimal(18,2)")).cast("double")
        .alias("click_value"),
    )


@query(
    "overlap_join_incidents",
    oracle="""
    SELECT p.event_id AS purchase_id, count(*) AS n_error_overlaps
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') er
      ON er.user_id = p.user_id
     AND epoch_us(p.ts) <= epoch_us(er.ts + INTERVAL 10 MINUTE)
     AND epoch_us(er.ts) <= epoch_us(p.ts + INTERVAL 30 MINUTE)
    GROUP BY 1
    """,
)
def overlap_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/relational.overlap_join): each
    purchase's 30-minute follow-up window against the same user's
    10-minute error-incident windows, counted per purchase.  The Spark
    side runs the BUCKETIZED first-shared-bucket strategy (each
    overlapping pair met exactly once, dedup-free); the oracle is the
    plain overlap theta-join — the hash match proves the bucket
    decomposition on real data, as with interval_join_attribution."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        to_utc_timestamp("ts").alias("p_s"),
        (to_utc_timestamp("ts") + F.expr("INTERVAL 30 MINUTES")).alias("p_e"),
    )
    er = e.filter("event_type = 'error'").select(
        F.col("event_id").alias("error_id"), "user_id",
        to_utc_timestamp("ts").alias("e_s"),
        (to_utc_timestamp("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e_e"),
    )
    j = R.overlap_join(p, er, "p_s", "p_e", "e_s", "e_e",
                       on="user_id", bucket_width=1800.0)
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_error_overlaps"))


@query(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k
    FROM events GROUP BY 1
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions (GAP: scalar passthrough): parse the events
    props JSON column, extract and aggregate a field."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


@query(
    "argmax_order_per_segment",
    oracle="""
    SELECT c.c_mktsegment AS seg,
           max_by(o.o_orderkey,
                  CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                      * 100000000 + o.o_orderkey) AS top_orderkey,
           MAX(o.o_totalprice) AS top_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def argmax_order_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max fold (max_by): the orderkey of the most expensive order per
    segment.  The comparator packs (price-cents, orderkey) into one bigint
    so ties break identically in both engines (DuckDB's max_by has no
    struct comparator)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = R.join(o, c, o.o_custkey == c.c_custkey, broadcast_right=True)
    cmp = (
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
        * F.lit(100000000) + F.col("o_orderkey")
    )
    return j.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.max_by("o_orderkey", cmp).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
    )


@query(
    "salted_aggregation",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
           MIN(value) AS min_v, MAX(value) AS max_v
    FROM events GROUP BY 1
    """,
)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage salted aggregation — must produce results
    identical to the direct GROUP BY (the oracle IS the direct form)."""
    from map_reduce_folds_spark.operators.skew import salted_aggregate

    e = load_table(spark, sf_dir, "events").withColumn(
        "dv", F.col("value").cast("decimal(12,2)")
    )
    out = salted_aggregate(
        e.select("event_type", "dv", "value"),
        keys=["event_type"],
        aggs={
            "n": ("count", None),
            "sum_v": ("sum", "dv"),
            "min_v": ("min", "value"),
            "max_v": ("max", "value"),
        },
        salt_buckets=16,
    )
    return out.select("event_type", "n", F.col("sum_v").cast("double").alias("sum_v"),
                      "min_v", "max_v")


@query(
    "salted_join_hot_keys",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT event_type, concat('T_', event_type) AS label
        FROM events
    )
    SELECT d.label, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY 1
    """,
)
def salted_join_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salt-and-replicate join (operators/skew.salted_join):
    the big side salts its hot join key over 16 buckets, the small dim
    replicates per bucket — results must be identical to the plain join
    (the oracle IS the plain form).  A 5-value join key is exactly the
    shape that pins one reducer per key in a naive shuffle join."""
    from map_reduce_folds_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "events")
    dim = e.select("event_type").distinct().withColumn(
        "label", F.concat(F.lit("T_"), F.col("event_type")))
    j = salted_join(e.select("event_type", "value"), dim, "event_type",
                    salt_buckets=16)
    return j.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).cast("double").alias("sum_v"),
    )


@query(
    "grouping_sets_explicit",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (distinct from rollup/cube): per-flag,
    per-status, and grand-total rows in one Expand+Aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_linestatus").alias("status"),
        "l_quantity",
    )
    return R.grouping_sets_agg(
        li, sets=[["flag"], ["status"], []], keys=["flag", "status"],
        aggs={"sum_qty": F.sum("l_quantity")},
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate — every predicate must
    push to the scan (no shuffle at all beyond the final single-partition
    agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2))
        .cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN {_REV_SQL}
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) * 100.0
               / CAST(SUM({_REV_SQL}) AS DOUBLE) AS promo_pct,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a broadcast join.
    Both sums are exact decimals; the ratio is a single double op chain."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    j = R.join(li, p, li.l_partkey == p.p_partkey, broadcast_right=True)
    rev = _revenue()
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return j.agg(
        (F.sum(promo).cast("double") * F.lit(100.0)
         / F.sum(rev).cast("double")).alias("promo_pct"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT o.o_orderkey AS orderkey, o.o_totalprice AS totalprice,
           SUM(l.l_quantity) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    HAVING SUM(l.l_quantity) > 150
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-filter (HAVING) over a fact-fact
    join — the join shuffles on the shared key, the HAVING prunes after."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = R.join(li, o, li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy(F.col("o_orderkey").alias("orderkey"),
                  F.col("o_totalprice").alias("totalprice"))
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter("total_qty > 150")
    )


@query(
    "median_exact",
    oracle="""
    SELECT k, med_qty, n FROM (
        SELECT l_returnflag AS k, l_quantity AS med_qty,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn
        FROM lineitem
    ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
    """,
)
def median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (lower) median per group via rank selection — deterministic
    under a total order, unlike interpolating percentile implementations
    whose arithmetic differs across engines.  One shuffle on the group key.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        F.col("l_returnflag").alias("k"),
        F.col("l_quantity").alias("med_qty"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(w).alias("rn"),
    )
    return ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("bigint")
    ).select("k", "med_qty", "n")


@query(
    "corr_exact",
    oracle="""
    SELECT l_returnflag AS k,
           (COUNT(*) * CAST(SUM(CAST(l_quantity AS BIGINT)
                                * CAST(l_partkey % 100 AS BIGINT)) AS DOUBLE)
            - CAST(SUM(l_quantity) AS DOUBLE) * CAST(SUM(l_partkey % 100) AS DOUBLE))
           / (sqrt(COUNT(*) * CAST(SUM(CAST(l_quantity AS BIGINT)
                                       * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                   - CAST(SUM(l_quantity) AS DOUBLE) * CAST(SUM(l_quantity) AS DOUBLE))
              * sqrt(COUNT(*) * CAST(SUM(CAST(l_partkey % 100 AS BIGINT)
                                         * CAST(l_partkey % 100 AS BIGINT)) AS DOUBLE)
                     - CAST(SUM(l_partkey % 100) AS DOUBLE) * CAST(SUM(l_partkey % 100) AS DOUBLE)))
               AS corr_qp,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact integer sums (the textbook formula
    over Σx, Σy, Σxy, Σx², Σy² — all exact bigint sums), so the result is
    one deterministic double expression.  Builtin corr() uses a streaming
    update formula whose rounding differs across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = (F.col("l_partkey") % 100).cast("bigint")
    kv = li.select(F.col("l_returnflag").alias("k"), x.alias("x"), y.alias("y"))
    n = F.count(F.lit(1))
    sx, sy = F.sum(F.col("x").cast("double")), F.sum(F.col("y").cast("double"))
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return kv.groupBy("k").agg(corr.alias("corr_qp"), n.alias("n"))


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id % 10 AS bucket,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): event counts per user bucket.  Explicit value
    list keeps the plan a single pass (no distinct-values pre-query)."""
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves missing cells null; count semantics want 0
    return out.select(
        "bucket", *[F.coalesce(F.col(c), F.lit(0)).alias(c)
                    for c in ("click", "error", "purchase", "signup", "view")]
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           SUM(o_totalprice_i) OVER w3 / COUNT(*) OVER w3 AS mavg3
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS o_totalprice_i
          FROM orders)
    WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frame (moving average over the last 3 orders).  The
    price is converted to integer cents first so the windowed sum is exact
    and the average a single division."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    w3 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        (F.sum("cents").over(w3) / F.count(F.lit(1)).over(w3)).alias("mavg3"),
    )


@query(
    "melt_long_format",
    oracle="""
    WITH long AS (
        SELECT l_returnflag AS k, 'qty' AS metric, l_quantity AS v FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem
    )
    SELECT k, metric, COUNT(*) AS n,
           CAST(SUM(CAST(v AS DECIMAL(14,2))) AS DOUBLE) AS total,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM long GROUP BY 1, 2
    """,
)
def melt_long_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tidy-data melt: wide row → (metric, value) long rows via an
    array-of-structs explode (Melt flatten), then per-metric folds — the
    reference's general Unpack (Core.hs:98) in its most common analytics
    shape."""
    li = load_table(spark, sf_dir, "lineitem")
    mr = MapReduce(
        unpack=Melt(
            F.array(
                F.struct(F.lit("qty").alias("metric"), F.col("l_quantity").alias("v")),
                F.struct(F.lit("discount").alias("metric"), F.col("l_discount").alias("v")),
                F.struct(F.lit("tax").alias("metric"), F.col("l_tax").alias("v")),
            ),
            alias="m", keep=("l_returnflag",), flatten=True,
        ),
        assign=Assign(
            keys={"k": "l_returnflag", "metric": "metric"},
            values={"v": "v", "dv": F.col("v").cast("decimal(14,2)")},
        ),
        reduce=FoldReduce({
            "n": folds.count_(),
            "total": folds.sum_("dv").map(lambda c: c.cast("double")),
            "min_v": folds.min_("v"),
            "max_v": folds.max_("v"),
        }),
    )
    return mr.run(li)


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH costs AS (
        SELECT p.p_partkey, s.s_suppkey, s.s_acctbal, n.n_name,
               l.l_extendedprice / l.l_quantity AS unit_cost
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE l.l_quantity > 0
    )
    SELECT p_partkey AS partkey, s_suppkey AS suppkey, n_name AS nation
    FROM costs c
    WHERE unit_cost = (SELECT MIN(unit_cost) FROM costs c2
                       WHERE c2.p_partkey = c.p_partkey)
      AND p_partkey % 50 = 0
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY s_suppkey) = 1
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-subquery — re-expressed as a window
    min (Spark's planner would de-correlate to the same thing).  Unit cost
    is a single double division, deterministic in both engines; suppkey
    tie-break when several rows share the minimum."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").filter("l_quantity > 0")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j = R.join(li, p, li.l_partkey == p.p_partkey, broadcast_right=True)
    j = R.join(j, s, F.col("l_suppkey") == s.s_suppkey, broadcast_right=True)
    j = R.join(j, n, F.col("s_nationkey") == n.n_nationkey, broadcast_right=True)
    costs = j.select(
        "p_partkey", "s_suppkey", "n_name",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
    )
    w = Window.partitionBy("p_partkey")
    flagged = costs.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        (F.col("unit_cost") == F.col("min_cost")) & (F.col("p_partkey") % 50 == 0)
    )
    wdedup = Window.partitionBy("p_partkey").orderBy("s_suppkey")
    return (
        flagged.withColumn("rn", F.row_number().over(wdedup)).filter("rn = 1")
        .select(F.col("p_partkey").alias("partkey"),
                F.col("s_suppkey").alias("suppkey"),
                F.col("n_name").alias("nation"))
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH part_value AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(18,2))) AS value_d
        FROM lineitem GROUP BY 1
    ),
    total AS (SELECT SUM(value_d) AS t FROM part_value)
    SELECT l_partkey AS partkey, value
    FROM part_value, total
    WHERE value_d > t * 0.0001
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global-total scalar subquery.
    The share comparison happens in exact decimals (value_d > total*0.001)
    so the cut is bitwise-identical; only the reported value is a double."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("value"),
        F.sum(_dec("l_extendedprice").cast("decimal(18,2)")).alias("value_d"),
    )
    total = pv.agg(F.sum("value_d").alias("t"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_d") > F.col("t") * F.lit(0.0001).cast("decimal(5,4)"))
        .select(F.col("l_partkey").alias("partkey"), "value")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name AS supplier, COUNT(*) AS n_waiting
    FROM lineitem l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE l1.l_shipdate > TIMESTAMP '1999-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > TIMESTAMP '1999-01-01')
    GROUP BY 1
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated on the same fact
    table — compiled as a left-semi then left-anti self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    late = li.filter(F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp"))
    others = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    late_others = late.select(F.col("l_orderkey").alias("o3"),
                              F.col("l_suppkey").alias("s3"))
    cand = late.join(
        others,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    cand = cand.join(
        late_others,
        (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    j = R.join(cand, s, cand.l_suppkey == s.s_suppkey, broadcast_right=True)
    return j.groupBy(F.col("s_name").alias("supplier")).agg(
        F.count(F.lit(1)).alias("n_waiting")
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunct groups across both join
    sides — exercises predicate normalization; the common part-side
    residues push into the broadcast side's scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = R.join(li, p, li.l_partkey == p.p_partkey, broadcast_right=True)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        | ((F.col("p_type") == "PROMO") & F.col("p_size").between(1, 35)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30))
    )
    return j.filter(cond).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q22_global_avg_filter",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT substr(c_name, 16, 2) AS code, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
)
def q22_global_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: filter against a global-average scalar subquery
    (broadcast cross join) + NOT EXISTS anti-join, grouped by a substring
    code.  The average is an exact-sum single division, identical in both
    engines, so the > cut is deterministic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter("c_acctbal > 0").agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("a")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    no_orders = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return no_orders.groupBy(
        F.substring("c_name", 16, 2).alias("code")
    ).agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      AND o.o_orderdate < TIMESTAMP '2000-01-01'
    GROUP BY 1, 2
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter("l_returnflag = 'R'")
    j = R.join(li, o, F.col("l_orderkey") == o.o_orderkey)
    j = R.join(j, c, F.col("o_custkey") == c.c_custkey, broadcast_right=True)
    agg = j.groupBy(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    ).agg(F.sum(_revenue()).cast("double").alias("revenue"))
    return R.topk(agg, [F.col("revenue").desc(), F.col("custkey")], 20)


@query(
    "q12_priority_classes",
    oracle="""
    SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'low' END AS prio_class,
           EXTRACT(YEAR FROM l.l_shipdate) AS ship_year,
           COUNT(*) AS n_items,
           SUM(l.l_quantity) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY 1, 2
    """,
)
def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-bucketed counts over a fact-fact join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    j = R.join(li, o, li.l_orderkey == o.o_orderkey)
    prio = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
    ).otherwise("low")
    return j.groupBy(
        prio.alias("prio_class"),
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("sum_qty"),
    )


_SHARED_SQL = """
    SELECT l_returnflag AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
"""


@query("sql_passthrough", oracle=_SHARED_SQL)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql surface: the exact same SQL text (ANSI common subset) runs
    verbatim on Spark (over registered fixture views) and on DuckDB as its
    own oracle — one definition, two engines."""
    from map_reduce_folds_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SHARED_SQL)


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY 1
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a cross-table column comparison —
    a left-semi join whose condition spans both sides."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sem = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY 1
    ) GROUP BY 1
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — per-customer order counts
    (left join keeps zero-order customers, join-condition filter ≠ WHERE),
    then the distribution of those counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    ).groupBy("c_custkey").agg(F.count("o_orderkey").alias("n_orders"))
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS suppkey,
               SUM(CAST({_REV_SQL} AS DECIMAL(18,4))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate < TIMESTAMP '1999-07-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name,
           CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + max-over-the-view scalar filter.
    The equality test runs on exact decimals so the winner is unambiguous;
    only the reported revenue is a double."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-07-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_revenue().cast("decimal(18,4)")).alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("mx"))
    top = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_rev") == F.col("mx"))
    return top.join(F.broadcast(s), top.suppkey == s.s_suppkey).select(
        "suppkey", F.col("s_name").alias("name"),
        F.col("total_rev").cast("double").alias("total_rev"),
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
        SELECT l_partkey, SUM(l_quantity) / COUNT(*) AS aq
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
               AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem l JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < 0.2 * a.aq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-key average (de-correlated to an
    aggregate join); the 0.2·avg cut is a deterministic double comparison
    (avg is an exact-sum single division in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("aq")
    )
    j = li.join(avg_qty, "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("aq")
    )
    return j.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
         / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS volume
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_9'))
      AND l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice under
    different roles with a symmetric OR pair condition."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    j = j.join(o, j.l_orderkey == o.o_orderkey)
    j = j.join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
    j = j.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    j = j.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
    j = j.filter(
        ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_9"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(F.sum(_revenue()).cast("double").alias("volume"))


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS profit, COUNT(*) AS n_items
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%green%' OR p.p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: five-table join with a substring predicate on the
    part dimension, profit per (nation, year)."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%green%") | (F.col("p_type") == "ECONOMY"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    j = j.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
    j = j.join(o, F.col("l_orderkey") == o.o_orderkey)
    j = j.join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    ).agg(
        F.sum(_revenue()).cast("double").alias("profit"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q9_product_profit_bucketed",
    oracle=f"""
    SELECT n.n_name AS nation, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS profit, COUNT(*) AS n_items
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%green%' OR p.p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
)
def q9_product_profit_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 over BUCKETED fact tables — the write-once/join-free recipe
    (tools/bench_q9_bucketed.py: 8.38 s → 2.31 s at the 100× corpus,
    per-10× growth 7.43× → 1.97×) promoted to a first-class registered
    query.  Both facts materialize ONCE per corpus path as catalog
    tables bucketed AND sorted on orderkey (``sources.write_bucketed``;
    names carry a path fingerprint so scale dirs never collide); every
    subsequent run reads ``spark.table`` and the fact-fact join compiles
    with NO Exchange and NO Sort on either side — the only shuffle left
    is the tiny (nation, year) aggregate (plan-pinned in test_plans).
    Same oracle as q9_product_profit: the revenue sum is decimal-exact,
    so bucket-sorted reads and shuffled reads agree bitwise."""
    import hashlib
    import os
    import shutil

    from map_reduce_folds_spark.sources import write_bucketed

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    li_tbl, o_tbl = f"li_bkt_q9_{tag}", f"o_bkt_q9_{tag}"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl, src, keys in ((li_tbl, "lineitem", ["l_orderkey"]),
                           (o_tbl, "orders", ["o_orderkey"])):
        if not spark.catalog.tableExists(tbl):
            # a dead session leaves the warehouse dir after the catalog
            # entry is gone — clear it so the write-once is idempotent
            shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
            write_bucketed(load_table(spark, sf_dir, src), tbl, keys,
                           n_buckets=32, sort_cols=keys)
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%green%") | (F.col("p_type") == "ECONOMY"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    j = j.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
    j = j.join(o, F.col("l_orderkey") == o.o_orderkey)
    j = j.join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    ).agg(
        F.sum(_revenue()).cast("double").alias("profit"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH all_sales AS (
        SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
               {_REV_SQL} AS volume,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume END) AS DOUBLE)
               / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n
    FROM all_sales GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — an 8-table star join where
    nation plays two roles (customer-region gate, supplier label), then a
    conditional-over-total ratio per year.  Both sums are exact decimals;
    the share is one double division."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = _revenue()
    return j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year")).agg(
        (F.sum(F.when(F.col("supp_nation") == "NATION_2", vol)).cast("double")
         / F.sum(vol).cast("double")).alias("mkt_share"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q16_supplier_part_types",
    oracle="""
    SELECT p.p_type AS p_type, p.p_size AS p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PRO%'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%'
      )
    GROUP BY 1, 2
    """,
)
def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem standing in for partsupp): distinct
    supplier counts per (type, size) with brand/type/size gates and a
    NOT-IN exclusion list — the exclusion compiles to an anti join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PRO%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7%")
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    j = (
        li.join(F.broadcast(excluded), "l_suppkey", "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    return j.groupBy("p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@query(
    "q20_potential_promotion",
    oracle="""
    SELECT s.s_name AS s_name, n.n_name AS nation
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_8')
      AND s.s_suppkey IN (
          SELECT l.l_suppkey
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_name LIKE '%red%'
            AND l.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l.l_suppkey, l.l_partkey
          HAVING SUM(CAST(l.l_quantity AS BIGINT)) > 30
      )
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (lineitem standing in for partsupp availability):
    suppliers who moved > 30 units of any red part in 1997, gated to two
    nations — a per-(supplier, part) aggregate feeding an IN (semi join)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8"))
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q") > 30)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        s.join(heavy, "s_suppkey", "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


# ---------------------------------------------------------------------------
# Hot-key pre-split variants (skew hardening; registered past the driver's
# 50-entry window — the unsplit twins inside the window stay authoritative)
# ---------------------------------------------------------------------------

@query(
    "asof_join_hotkey",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           epoch_us(c.ts) AS click_us, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def asof_join_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join_purchase_click with the hot-key pre-split engaged
    (hot_key_bucket = 1 hour): the per-(user, hour-bucket) windows plus
    summary-table stitching must reproduce the DuckDB ASOF JOIN exactly —
    the oracle is identical to the unsplit entry by construction."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("click_value")
    )
    out = R.asof_join(purchases, clicks, on="user_id",
                      left_time="ts", right_time="c_ts",
                      hot_key_bucket=3600)
    return out.select(
        "purchase_id", "user_id",
        epoch_us(F.col("__rt")).alias("click_us"), "click_value",
    )


@query(
    "sessionize_events_hotkey",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id,
               CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, event_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sessions GROUP BY 1, 2
    """,
)
def sessionize_events_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionize_events with the hot-key pre-split engaged
    (hot_key_bucket = 2 hours): per-(user, bucket) lag/cumsum windows plus
    the first-event/offset stitch must assign the exact session ids of the
    single-window form — same oracle as the unsplit entry."""
    e = load_table(spark, sf_dir, "events")
    s = W.sessionize(e, key="user_id", ts="ts", gap_seconds=1800,
                     hot_key_bucket=7200)
    return s.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "asof_join_tolerance",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           epoch_us(c.mts) AS click_us, c.mval AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
        SELECT ts AS mts, value AS mval
        FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND c.ts <= p.ts AND epoch(p.ts) - epoch(c.ts) <= 3600
        ORDER BY c.ts DESC LIMIT 1
    ) c ON true
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of (pandas merge_asof parity): the latest prior
    click within ONE HOUR of each purchase; older matches come back null.
    The oracle is a LATERAL top-1 subquery with the same bound."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("click_value")
    )
    out = R.asof_join(purchases, clicks, on="user_id",
                      left_time="ts", right_time="c_ts", tolerance=3600)
    return out.select(
        "purchase_id", "user_id",
        epoch_us(F.col("__rt")).alias("click_us"), "click_value",
    )


@query(
    "running_sum_hotkey",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
             OVER w AS BIGINT) AS running_cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_so_far
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def running_sum_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates per customer through windows.running_keyed with
    the hot-key pre-split engaged: per-(key, orderkey-range-bucket) local
    windows + algebraic carries must reproduce the single-window running
    sum/count exactly.  Integer cents keep the sum order-free (float
    addition order would differ between the split and unsplit forms)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "__cents", (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
    out = W.running_keyed(
        o, key="o_custkey", order_col="o_orderkey",
        aggs={"running_cents": ("sum", "__cents"), "n_so_far": ("count", None)},
        hot_key_bucket=50_000,
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        "running_cents", "n_so_far",
    )


@query(
    "bloom_pruned_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 450000
    GROUP BY 1
    """,
)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side bloom semi-join reduction (operators/sketches.
    bloom_prune_join): the ~10%-selective order set becomes a 64 KiB
    bitmask that filters the lineitem SCAN before the join shuffle — the
    rows that cannot match never leave their partition.  The result is
    exactly the plain join (false positives die in the real join; false
    negatives are impossible), which is what the oracle checks."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where("o_totalprice > 450000")
    j = K.bloom_prune_join(l, o, "l_orderkey", "o_orderkey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
    )


_PR_EDGES_SQL = """
    SELECT event_type AS s, nxt AS t FROM (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events) WHERE nxt IS NOT NULL
"""


@query("pagerank_event_types",
       oracle=G.pagerank_sql(_PR_EDGES_SQL, n_iter=10))
def pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (per-user journeys
    ordered by (ts, event_id); each consecutive pair is a directed
    multigraph edge) — 'which event types do journeys flow into'.  Ten
    power-iteration rounds in fixed-point integer arithmetic
    (operators/graph.pagerank), so the bigint ranks are bit-exact against
    the oracle's unrolled-CTE mirror — an iterative-algorithm result the
    driver gate can hash, not just row-count."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select("event_type", F.lead("event_type").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
    )
    return G.pagerank(trans, "event_type", "nxt", n_iter=10)


@query("pagerank_personalized",
       oracle=G.pagerank_sql(_PR_EDGES_SQL, n_iter=10, seeds=["purchase"]))
def pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at 'purchase': ranks measure
    random-walk proximity to purchase events in the journey graph (the
    'what leads to conversion' query).  Same fixed-point integer rounds,
    teleport mass restricted to the seed — hash-exact against the seeded
    unrolled-CTE mirror."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select("event_type", F.lead("event_type").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
    )
    return G.pagerank(trans, "event_type", "nxt", n_iter=10,
                      seeds=["purchase"])


@query(
    "funnel_conversion",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               list_reduce(
                   list_prepend(0, list_sort(list(
                       {'t': epoch_us(ts), 'b': event_id,
                        'i': CASE WHEN event_type = 'view' THEN 1
                                  WHEN event_type = 'click' THEN 2
                                  WHEN event_type = 'purchase' THEN 3
                                  ELSE 0 END}
                   )).apply(s -> s.i)),
                   (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1
                               ELSE acc END) AS depth
        FROM events GROUP BY user_id
    )
    SELECT CAST(depth AS INT) AS depth, COUNT(*) AS n_users
    FROM pu GROUP BY 1
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel view → click → purchase: users by greedy
    in-order depth (operators/windows.funnel_depth).  The per-user fold
    runs over a sorted (ts, event_id) array of step INDICES, so the match
    is integer-deterministic and the oracle's list_reduce mirrors it
    term-for-term."""
    e = load_table(spark, sf_dir, "events")
    d = W.funnel_depth(e, "user_id", "ts", "event_type",
                       ["view", "click", "purchase"], tiebreak_col="event_id")
    return d.groupBy("depth").agg(F.count(F.lit(1)).alias("n_users"))


_DAY_US = 24 * 3600 * 1_000_000


@query(
    "funnel_conversion_within",
    oracle=f"""
    WITH se AS (
        SELECT user_id,
               {{'t': epoch_us(ts), 'b': event_id,
                 'i': CASE WHEN event_type = 'view' THEN 1
                           WHEN event_type = 'click' THEN 2
                           ELSE 3 END}} AS s
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    pu AS (
        SELECT user_id,
               (list_reduce(
                   list_prepend({{'d': 0, 't': CAST(0 AS BIGINT)}},
                       list_transform(list_sort(list(s)),
                                      x -> {{'d': x.i, 't': x.t}})),
                   (acc, x) -> CASE WHEN x.d = acc.d + 1
                                    AND (acc.d = 0
                                         OR x.t - acc.t <= {_DAY_US})
                               THEN {{'d': acc.d + 1, 't': x.t}}
                               ELSE acc END)).d AS depth
        FROM se GROUP BY user_id
    ),
    allu AS (SELECT DISTINCT user_id FROM events)
    SELECT CAST(COALESCE(pu.depth, 0) AS INT) AS depth,
           COUNT(*) AS n_users
    FROM allu LEFT JOIN pu
      ON allu.user_id IS NOT DISTINCT FROM pu.user_id
    GROUP BY 1
    """,
)
def funnel_conversion_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel (the standard product-analytics
    ask): view → click → purchase where each step must land within 24
    HOURS of the matched previous step (first step unconstrained) —
    operators/windows.funnel_depth(within=).  The fold state is a
    (depth, last-step-time) integer pair over the steps-only sorted
    array; the oracle's list_reduce mirrors it term-for-term, including
    the distinct-user depth-0 restore."""
    e = load_table(spark, sf_dir, "events")
    d = W.funnel_depth(e, "user_id", "ts", "event_type",
                       ["view", "click", "purchase"],
                       tiebreak_col="event_id", within=_DAY_US)
    return d.groupBy("depth").agg(F.count(F.lit(1)).alias("n_users"))


_WEEK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "cohort_retention",
    oracle=f"""
    WITH wk AS (
        SELECT user_id, epoch_us(ts) // {_WEEK_US} AS week FROM events
    ),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY 1),
    activity AS (SELECT DISTINCT user_id, week FROM wk)
    SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention table: users grouped by first-seen week,
    counted in every later week they were active — the standard retention
    triangle.  A pure composition of engine primitives (two
    map-side-combinable aggregations + one join on user); weeks are
    integer epoch-week indices so the result is arithmetic-exact."""
    e = load_table(spark, sf_dir, "events")
    wk = e.select("user_id",
                  (epoch_us(F.col("ts")) / F.lit(_WEEK_US))
                  .cast("bigint").alias("week"))
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = wk.distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy("cohort_week",
                 (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_PR_WEDGES_SQL = f"""
    SELECT s, t, COUNT(*) AS w FROM ({_PR_EDGES_SQL}) GROUP BY 1, 2
"""


@query("pagerank_weighted",
       oracle=G.pagerank_sql(_PR_WEDGES_SQL, n_iter=10, weighted=True))
def pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the PRE-AGGREGATED transition graph: the ~100k parallel
    journey edges collapse into one weighted edge per (from, to) pair
    BEFORE the iteration, so every round joins the distinct-edge relation
    (dozens of rows) instead of the event-scale multigraph — the 100 TB
    shape (one count aggregation buys 10 rounds of small joins).  Integer
    (r·w) div W contributions stay bit-exact against the weighted
    unrolled-CTE mirror."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select("event_type", F.lead("event_type").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
        .groupBy("event_type", "nxt")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return G.pagerank(trans, "event_type", "nxt", n_iter=10, weight_col="w")


@query(
    "mode_per_user",
    oracle="""
    SELECT user_id, event_type AS mode, n AS mode_count FROM (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY n DESC, event_type) = 1
    """,
)
def mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most-frequent event type with DETERMINISTIC tie-break
    (smallest value wins) — operators/relational.mode_per_group.  Two
    combiner-friendly aggregations instead of a window sort; the builtin
    mode()/F.mode are tie-nondeterministic and therefore un-oracle-able."""
    e = load_table(spark, sf_dir, "events")
    return R.mode_per_group(e, ["user_id"], "event_type")


@query(
    "funnel_step_rates",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               list_reduce(
                   list_prepend(0, list_sort(list(
                       {'t': epoch_us(ts), 'b': event_id,
                        'i': CASE WHEN event_type = 'view' THEN 1
                                  WHEN event_type = 'click' THEN 2
                                  WHEN event_type = 'purchase' THEN 3
                                  ELSE 0 END}
                   )).apply(s -> s.i)),
                   (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1
                               ELSE acc END) AS depth
        FROM events GROUP BY user_id
    ),
    reached AS (
        SELECT g.step, COUNT(*) AS n_reached
        FROM pu, LATERAL (SELECT unnest(generate_series(1, pu.depth)) AS step) g
        WHERE pu.depth >= 1 GROUP BY 1
    )
    SELECT a.step AS step, a.n_reached,
           CAST(a.n_reached AS DOUBLE) / b.n_reached AS rate_from_prev
    FROM reached a LEFT JOIN reached b ON a.step = b.step + 1
    """,
)
def funnel_step_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-step conversion rates of the view → click → purchase
    funnel — the table analysts actually read.  Per-user depths
    (windows.funnel_depth) explode into reached-step rows (no
    global-order window over the histogram), and each step's rate is one
    division by the previous step's count via a 3-row self-join."""
    e = load_table(spark, sf_dir, "events")
    d = W.funnel_depth(e, "user_id", "ts", "event_type",
                       ["view", "click", "purchase"], tiebreak_col="event_id")
    reached = (
        d.where(F.col("depth") >= 1)
        .select(F.explode(F.sequence(F.lit(1), F.col("depth"))).alias("step"))
        .groupBy("step").agg(F.count(F.lit(1)).alias("n_reached"))
    )
    a, b = reached.alias("a"), reached.alias("b")
    return a.join(b, F.col("a.step") == F.col("b.step") + 1, "left").select(
        F.col("a.step").cast("bigint").alias("step"),
        F.col("a.n_reached").alias("n_reached"),
        (F.col("a.n_reached").cast("double") / F.col("b.n_reached"))
            .alias("rate_from_prev"),
    )


# ---------------------------------------------------------------------------
# Table-maintenance ops with exact oracles (r6 verdict Next #7): the snapshot
# diff and the CDC upsert are relational at heart — only compaction/Z-order
# stay unit-tested (pure filesystem-layout effects no SQL mirror can see).
# ---------------------------------------------------------------------------


@query(
    "diff_orders_snapshots",
    oracle="""
    WITH a AS (SELECT * FROM orders WHERE o_orderkey % 101 != 0),
    b AS (
        SELECT * REPLACE (CASE WHEN o_orderkey % 89 = 0
                               THEN o_totalprice + 1.0
                               ELSE o_totalprice END AS o_totalprice)
        FROM orders WHERE o_orderkey % 97 != 0
    ),
    cls AS (
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                         THEN 'unchanged'
                    ELSE 'changed' END AS diff
        FROM a FULL OUTER JOIN b USING (o_orderkey)
    )
    SELECT CAST(COALESCE(SUM(CASE WHEN diff = 'added' THEN 1 END), 0)
               AS BIGINT) AS added,
           CAST(COALESCE(SUM(CASE WHEN diff = 'removed' THEN 1 END), 0)
               AS BIGINT) AS removed,
           CAST(COALESCE(SUM(CASE WHEN diff = 'changed' THEN 1 END), 0)
               AS BIGINT) AS changed,
           CAST(COALESCE(SUM(CASE WHEN diff = 'unchanged' THEN 1 END), 0)
               AS BIGINT) AS unchanged
    FROM cls
    """,
)
def diff_orders_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two deterministic versions of ``orders``
    (sources.diff_tables): version A drops keys ≡0 mod 101, version B
    drops keys ≡0 mod 97 and bumps o_totalprice on keys ≡0 mod 89 — so
    the diff has all four classes.  One full-outer key join over
    interleaved null-flag xxhash64 row hashes; the oracle classifies by
    direct value comparison (only o_totalprice differs by construction),
    which agrees with the hash classification absent an xxhash64
    collision — and the fixture is fixed, so a pass is stable."""
    from map_reduce_folds_spark.sources import diff_tables

    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderkey") % 101 != 0)
    b = o.where(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")))
    return diff_tables(a, b, ["o_orderkey"])


@query(
    "cdc_upsert_orders",
    oracle="""
    WITH upd_keys AS (
        SELECT o_orderkey FROM orders
        WHERE (o_orderkey % 50 = 0 AND o_orderkey % 101 != 0)
           OR o_orderkey % 101 = 0
    ),
    kept AS (
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd_keys)
    ),
    applied AS (
        SELECT * REPLACE (o_totalprice * 2 AS o_totalprice) FROM orders
        WHERE o_orderkey % 50 = 0 AND o_orderkey % 101 != 0
        UNION ALL
        SELECT * REPLACE (o_orderkey + 20000000 AS o_orderkey) FROM orders
        WHERE o_orderkey % 97 = 0
    ),
    merged AS (SELECT * FROM kept UNION ALL SELECT * FROM applied)
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM merged GROUP BY 1
    """,
)
def cdc_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC apply (sources.merge_upsert): a deterministic batch
    of replacements (keys ≡0 mod 50: price doubled), inserts (keys ≡0
    mod 97 shifted past the key space), and deletes (keys ≡0 mod 101)
    against the ``orders`` parquet, written to a fresh temp snapshot and
    READ BACK for the aggregate — so the oracle checks the whole
    write/read round trip, not just the merge plan.  The oracle mirrors
    the merge relationally (anti-join + union).  Decimal-cast sum per
    the numeric-stability policy."""
    import tempfile

    from map_reduce_folds_spark.sources import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    repl = o.where((k % 50 == 0) & (k % 101 != 0)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2)
    ins = o.where(k % 97 == 0).withColumn("o_orderkey", k + 20000000)
    dels = o.where(k % 101 == 0)
    updates = (
        repl.withColumn("_del", F.lit(False))
        .unionByName(ins.withColumn("_del", F.lit(False)))
        .unionByName(dels.withColumn("_del", F.lit(True)))
    )
    with tempfile.TemporaryDirectory(prefix="cdc_upsert_orders_",
                                     ignore_cleanup_errors=True) as dst:
        merge_upsert(spark, f"{sf_dir}/orders.parquet", updates,
                     ["o_orderkey"], dst, delete_col="_del")
        merged = spark.read.parquet(dst)
        # collect the (≤3-row, bounded by |o_orderstatus|) aggregate
        # eagerly so the multi-MB merged snapshot can be deleted here —
        # repeated invocations (scale bench best-of-N, warm-ups) were
        # littering /tmp with one full orders copy each
        agg = merged.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
        rows, schema = agg.collect(), agg.schema
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Round 8: temporal-dimension and entity-resolution families — SCD Type 2
# history build, per-key time-series resampling with forward fill, blocked
# record linkage.  Reference analog: none (no temporal/string-similarity ops
# in Core.hs/Simple.hs); north-star warehouse + curation surface.
# ---------------------------------------------------------------------------


@query(
    "scd2_user_event_history",
    oracle="""
    WITH base AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
                    WHEN LAG(event_type) OVER w
                         IS NOT DISTINCT FROM event_type THEN 0
                    ELSE 1 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, ts, event_type,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM base
    ),
    g AS (
        SELECT user_id, version, MIN(ts) AS valid_from,
               MIN(event_type) AS event_type, COUNT(*) AS n_events
        FROM runs GROUP BY 1, 2
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
           n_events
    FROM g
    """,
)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history from the event change log
    (operators/windows.scd2_history): each user's stream collapses into
    runs of equal event_type with [valid_from, valid_to) validity ranges
    (NULL valid_to = current run).  Change detection and run numbering
    are per-user windows (one shuffle, no global order); the run table —
    one row per CHANGE — is what lead() walks for valid_to."""
    e = load_table(spark, sf_dir, "events")
    return W.scd2_history(e, "user_id", "ts", "event_type",
                          tiebreak_col="event_id")


@query(
    "resample_user_hourly",
    oracle="""
    WITH obs AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
               (max({'t': epoch_us(ts), 'b': event_id, 'v': event_type})).v
                   AS obs_v,
               COUNT(*) AS n_obs
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
             FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket
             FROM span),
    j AS (
        SELECT g.user_id, g.bucket, o.obs_v,
               COALESCE(o.n_obs, 0) AS n_obs
        FROM grid g LEFT JOIN obs o
          ON o.user_id = g.user_id AND o.bucket = g.bucket
    )
    SELECT user_id, bucket,
           last_value(obs_v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS event_type,
           CAST(n_obs AS BIGINT) AS n_obs
    FROM j
    """,
)
def resample_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resampling with forward fill
    (operators/windows.resample_fill_forward): every hour bucket from
    each user's first to last event, the bucket's LAST event_type
    carried across gap hours (n_obs=0 marks filled rows).  Bucket
    last-pick is a deterministic max-by-(ts, event_id) struct fold; the
    dense grid is a per-user sequence explode bounded by the user's
    span; the fill is last(ignorenulls) over the per-user bucket
    window."""
    e = load_table(spark, sf_dir, "events")
    return W.resample_fill_forward(e, "user_id", "ts", "event_type",
                                   bucket_us=3_600_000_000,
                                   tiebreak_col="event_id")


@query(
    "record_linkage_customers",
    oracle="""
    SELECT a.c_nationkey,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist,
           COUNT(*) AS n_pairs
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE a.c_name IS NOT NULL AND b.c_name IS NOT NULL
      AND levenshtein(a.c_name, b.c_name) <= 2
    GROUP BY 1, 2
    """,
)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage over customer names
    (operators/linkage.blocked_levenshtein_pairs): candidate pairs form
    only WITHIN nation blocks (equi-join on the block key — never an
    all-pairs cartesian, and oversized blocks refuse loudly via
    block_cap), scored with exact Levenshtein distance ≤ 2.  Both
    engines implement the standard unit-cost edit distance, so the
    match histogram (nation, dist, n_pairs) is engine-exact."""
    from map_reduce_folds_spark.operators import linkage as LK

    c = load_table(spark, sf_dir, "customer")
    pairs = LK.blocked_levenshtein_pairs(
        c, "c_custkey", "c_name", ["c_nationkey"], max_dist=2,
        block_cap=100_000)
    return pairs.groupBy("c_nationkey", "dist").agg(
        F.count(F.lit(1)).alias("n_pairs"))


@query(
    "trend_per_user",
    oracle="""
    WITH pts AS (
        SELECT user_id,
               epoch_us(ts) // 1000000
                 - MIN(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id)
                   AS x,
               CAST(round(value * 100) AS BIGINT) AS yi
        FROM events
    ),
    s AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(x) AS sx, SUM(x * x) AS sxx,
               SUM(yi) AS sy, SUM(x * yi) AS sxy
        FROM pts GROUP BY 1
    )
    SELECT user_id, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (100.0 * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 9)
               AS slope
    FROM s
    WHERE n >= 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    """,
)
def trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of the event value over time — the closed-form
    least-squares slope from five map-side-combinable sums, no
    iteration.  Times are per-user-ANCHORED epoch seconds (x − min x, a
    partition-only window that shares the groupBy's hash partitioning —
    no extra shuffle) so every sum stays an exact small integer
    (value·100 is exact: the fixture carries 2-decimal values); the
    slope is ONE double division of fixed-parenthesization products,
    9-decimal rounded.  Degenerate users (single point, zero time
    variance) are excluded rather than emitting NaN/Inf."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    sec = (epoch_us(F.col("ts")) / F.lit(1_000_000)).cast("bigint")
    w = Window.partitionBy("user_id")
    pts = e.select(
        "user_id",
        (sec - F.min(sec).over(w)).alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("yi"),
    )
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("x") * F.col("yi")).alias("sxy"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    den = d_("n") * d_("sxx") - d_("sx") * d_("sx")
    num = d_("n") * d_("sxy") - d_("sx") * d_("sy")
    return (
        s.where((F.col("n") >= 2) & (den > 0))
        .select("user_id", "n",
                F.round(num / (F.lit(100.0) * den), 9).alias("slope"))
    )


# ---------------------------------------------------------------------------
# Round 9: robust time-series and journey-model families — exact rolling
# median, nearest-rank inter-arrival percentiles, Markov transition matrix.
# Reference analog: none (Core.hs has no ordered-window surface); north-star
# monitoring / sequence-model feature queries.
# ---------------------------------------------------------------------------


@query(
    "rolling_median_user",
    oracle="""
    SELECT event_id, user_id, CAST(len(arr) AS BIGINT) AS n_win,
           (arr[CAST((len(arr) + 1) // 2 AS INT)]
            + arr[CAST(len(arr) // 2 + 1 AS INT)]) / 2.0 AS med_cents
    FROM (
        SELECT event_id, user_id, list_sort(list(cents) OVER w) AS arr
        FROM (SELECT event_id, user_id, epoch_us(ts) AS tus,
                     CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                         AS cents
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY tus
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    """,
)
def rolling_median_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median of the event value over each user's trailing
    hour (operators/windows.rolling_median_cents) — the robust twin of
    window_time_range's moving sum: one spike moves the mean, not the
    median.  Value-defined RANGE frame (order-deterministic under ties);
    integer-cents fixed point so the median is pure integer selection
    plus one (lo+hi)/2.0 — bitwise-portable.  The frame array is bounded
    by events-per-hour-per-user, not partition size; a hot key at
    cluster scale would switch to the histogram-sketch quantile path."""
    e = load_table(spark, sf_dir, "events")
    return W.rolling_median_cents(e, "user_id", "ts", "value",
                                  range_us=3_600_000_000,
                                  carry=("event_id",))


@query(
    "interarrival_stats",
    oracle="""
    WITH d AS (
        SELECT event_type,
               tus - LAG(tus) OVER (PARTITION BY user_id, event_type
                                    ORDER BY tus, event_id) AS delta
        FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
              FROM events)
    ),
    r AS (
        SELECT event_type, delta,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY delta) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d WHERE delta IS NOT NULL
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN delta END) AS p50,
           MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN delta END) AS p95,
           MAX(CASE WHEN rn = n THEN delta END) AS vmax
    FROM r GROUP BY event_type
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type — how often does a
    user fire the SAME event again (operators/windows.
    group_percentiles_hist): per-(user, type) LAG deltas in epoch
    micros, then EXACT nearest-rank p50/p95/max per type via HISTOGRAM
    REFINEMENT (per-group min/max/count → integer bucket counts →
    locate the rank's bucket → sort only its residents).  The former
    single-sort form partitioned its row_number window by event_type, so
    sort parallelism equaled |types| — a 5-type corpus at 100 TB
    serializes each type into one task; the hist form's per-task work is
    bounded by n/nbuckets (round-10; picks property-tested identical,
    oracle unchanged).  All-integer end to end: micros deltas, bucket
    `div` arithmetic, ceil(q·n/100) integer index, picked values are
    bigints — no float anywhere."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    tus = epoch_us(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy(tus, F.col("event_id"))
    d = (
        e.select("event_type",
                 (tus - F.lag(tus).over(w)).alias("delta"))
        .where(F.col("delta").isNotNull())
    )
    return W.group_percentiles_hist(d, ["event_type"], "delta",
                                    qs=(50, 95))


@query(
    "markov_event_transitions",
    oracle="""
    WITH t AS (
        SELECT event_type AS prev,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    c AS (
        SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS n
        FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev, nxt, n,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE) AS prob
    FROM c
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys
    (operators/graph.transition_probs): P(next event type | current) by
    maximum likelihood over consecutive (ts, event_id)-ordered pairs —
    the probability view of the SAME edge relation pagerank_event_types
    walks.  One window shuffle on user_id, one |types|² aggregation, a
    vocabulary-bounded window for the denominator; prob is a single
    bigint/bigint division (identical double in both engines)."""
    e = load_table(spark, sf_dir, "events")
    return G.transition_probs(e, "user_id",
                              [F.col("ts"), F.col("event_id")],
                              "event_type")


_CUSUM_K, _CUSUM_H = 5000, 20000  # cents: target ≈ value mean, alarm = 200.00


@query(
    "cusum_user_drift",
    oracle=W.cusum_sql("events", "user_id", "ts", "value",
                       _CUSUM_K, _CUSUM_H, tiebreak_expr="event_id"),
)
def cusum_user_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's one-sided CUSUM drift detector per user
    (operators/windows.cusum_per_key): fold each user's event values in
    time order through s ← max(0, s + (x − target)) and count upward
    alarm-threshold crossings — the sequential change detector that
    flags a sustained shift above target long before a windowed mean
    moves.  ALL-INTEGER state (values fixed-pointed to cents before the
    fold): every transition is exact, so the oracle's list_reduce mirror
    is bitwise-equal by construction — no float anywhere."""
    e = load_table(spark, sf_dir, "events")
    return W.cusum_per_key(e, "user_id", "ts", "value",
                           _CUSUM_K, _CUSUM_H, tiebreak_col="event_id")


@query(
    "cusum_stream_stateful",
    oracle=W.cusum_sql("events", "user_id", "ts", "value",
                       _CUSUM_K, _CUSUM_H, tiebreak_expr="event_id"),
)
def cusum_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second stateful-streaming path under the driver gate (r11 verdict
    Next #5): events replayed as a TWO-BATCH file stream through
    ``streaming.stream_cusum`` (GroupState / applyInPandasWithState)
    must equal the batch ``windows.cusum_per_key`` closed form exactly —
    integer state, alarms included, state genuinely CARRIED across the
    micro-batch boundary.

    Determinism of the replay: the fixture is split at the median
    timestamp into two staged files (every event with ts ≤ cut in file
    A, the rest in file B), so each user's events arrive in
    nondecreasing event-time order across batches — equal-timestamp
    pairs land in the SAME file, where the operator's in-batch
    (ts, tiebreak) sort orders them — making the arrival-order fold
    bitwise-equal to the batch closed form.  File order is pinned twice
    (mtime AND lexicographic name, by ``streaming.replay_to_memory``)
    and ``max_files_per_trigger=1`` forces one file per micro-batch.
    The final per-user state is the row with the largest n_events
    (monotone per key under update mode)."""
    from map_reduce_folds_spark.streaming import (
        replay_to_memory, stream_cusum)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id")
    got = replay_to_memory(
        spark, [[half] for half in _split_at_median_ts(ev)],
        "user_id bigint, ts timestamp, value double, event_id bigint",
        lambda stream: stream_cusum(stream, "user_id", "ts", "value",
                                    _CUSUM_K, _CUSUM_H,
                                    tiebreak_col="event_id",
                                    output_mode="update"),
        "cusum_stream_stateful_q", "update")
    return _final_state(got, "user_id", "n_events", "final_cusum",
                        "max_cusum", "n_alarms")


@query(
    "assoc_rules_event_types",
    oracle="""
    WITH items AS (SELECT DISTINCT user_id, event_type FROM events),
    freq AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nf
             FROM items GROUP BY 1),
    total AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nk
              FROM items),
    pairs AS (
        SELECT a.event_type AS ante, b.event_type AS cons,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2
    )
    SELECT ante, cons, n_ab,
           na.nf AS n_a, nb.nf AS n_b, total.nk AS n_keys,
           CAST(n_ab AS DOUBLE) / total.nk AS support,
           CAST(n_ab AS DOUBLE) / na.nf AS confidence,
           CAST(n_ab * total.nk AS DOUBLE) / (na.nf * nb.nf) AS lift
    FROM pairs
    JOIN freq na ON na.event_type = pairs.ante
    JOIN freq nb ON nb.event_type = pairs.cons
    CROSS JOIN total
    """,
)
def assoc_rules_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-user event-type baskets
    (operators/relational.association_rules): support, confidence, and
    lift for every directed type pair — does 'view then purchase'
    co-occur in the same user's repertoire beyond independence.  One
    distinct, one key self-join bounded by vocabulary² per user, two
    broadcast frequency joins; every measure is one division of exact
    bigint counts/products (bitwise-portable)."""
    e = load_table(spark, sf_dir, "events")
    return R.association_rules(e, "user_id", "event_type")


@query(
    "incremental_orders_agg",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_custkey
    """,
)
def incremental_orders_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance
    (operators/relational.incremental_agg_merge): the per-customer order
    aggregate is built as state-over-old-rows MERGED with a
    new-rows batch (split on o_orderkey % 7 — a stand-in for "yesterday's
    state + today's partition"), and the oracle recomputes from scratch
    — merge(state, delta) must equal the full recompute EXACTLY,
    including keys appearing only in the state or only in the delta.
    The merge shuffles only the delta; the state joins by key, unsorted.
    Cents fixed-point keeps the sums integer-exact."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "cents",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint"))
    aggs = {
        "n": ("count", None),
        "sum_cents": ("sum", "cents"),
        "first_order": ("min", "o_orderdate"),
        "last_order": ("max", "o_orderdate"),
    }
    old = o.where(F.col("o_orderkey") % 7 != 0)
    delta = o.where(F.col("o_orderkey") % 7 == 0)
    state = old.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"))
    return R.incremental_agg_merge(state, delta, ["o_custkey"], aggs)


@query(
    "activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
        FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                   AS grp
        FROM days
    ),
    streaks AS (
        SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY 1, 2
    )
    SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of CONSECUTIVE active days — the
    classic streak analysis (retention's sharp edge), via the
    rank-difference trick: distinct active days minus their per-user
    row_number is CONSTANT within a consecutive island, so islands fall
    out of one groupBy — no self-join, no iteration.  Distinct-day
    collapse first (events → ≤ span rows per user), one window sort,
    two aggregations; all-integer day arithmetic."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(epoch_us(F.col("ts")) / F.lit(86_400_000_000))
        .cast("bigint").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", "d",
        (F.col("d") - F.row_number().over(w)).alias("grp"))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"))


@query(
    "revenue_share_within_region",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation, cents,
           CAST(cents AS DOUBLE)
               / CAST(SUM(cents) OVER (PARTITION BY region) AS DOUBLE)
               AS share
    FROM rev
    """,
)
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's order
    revenue — the percent-of-total window every BI layer ships.  Exact
    integer-cents sums; the share is one bigint/bigint division against
    a partition-total window over the nation-sized aggregate (25 rows —
    the window costs nothing; the heavy lifting is the broadcast-dim
    star join + one aggregation)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # customer SCALES with SF — equi-join (AQE may still broadcast at
    # small SF); only the fixed dims broadcast unconditionally
    rev = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"),
                 F.col("n_name").alias("nation"))
        .agg(F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100)
                   .cast("bigint")).alias("cents"))
    )
    share = (F.col("cents").cast("double")
             / F.sum("cents").over(Window.partitionBy("region")))
    return rev.select("region", "nation", "cents", share.alias("share"))


_NEAR_TOL_US = 1_800_000_000  # 30 minutes


@query(
    "nearest_join_purchase_click",
    oracle=f"""
    WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS t
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id, epoch_us(ts) AS t
          FROM events WHERE event_type = 'click'),
    cand AS (
        SELECT p.user_id, p.event_id AS purchase_id,
               {{'d': abs(p.t - c.t), 't': c.t, 'e': c.event_id}} AS m
        FROM p JOIN c ON p.user_id = c.user_id
        WHERE abs(p.t - c.t) <= {_NEAR_TOL_US}
    )
    SELECT user_id, purchase_id,
           (MIN(m)).e AS click_id,
           CAST((MIN(m)).d AS BIGINT) AS diff_us
    FROM cand GROUP BY 1, 2
    """,
)
def nearest_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor temporal join
    (operators/relational.nearest_event_join): each purchase pairs with
    its single closest click — EITHER direction, unlike the
    backward-only as-of — within 30 minutes; ties break to the earlier,
    then smaller-id click (deterministic min-struct).  Candidates come
    from the ⌊t/tol⌋ bucket trick (right side explodes to bucket ± 1),
    so the plan is a pure equi-join on (user, bucket) — no theta join,
    no per-user cartesian; the oracle brute-forces the per-user pair
    space."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase") \
        .select("user_id", F.col("event_id").alias("purchase_id"), "ts")
    c = e.where(F.col("event_type") == "click") \
        .select("user_id", F.col("event_id").alias("click_id"),
                F.col("ts").alias("ts2"))
    return R.nearest_event_join(p, c, "ts", "ts2", ["user_id"],
                                _NEAR_TOL_US, "purchase_id", "click_id")


@query(
    "lapsed_users_daily",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
        FROM events
    )
    SELECT a.d, CAST(COUNT(*) AS BIGINT) AS n_lapsed
    FROM ud a LEFT JOIN ud b
      ON b.user_id = a.user_id AND b.d = a.d + 1
    WHERE b.user_id IS NULL
      AND a.d < (SELECT MAX(d) FROM ud)
    GROUP BY a.d
    """,
)
def lapsed_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ANTI-join: users active on day d with NO activity on
    day d+1 — the lapse/churn complement of cohort_retention.  Distinct
    (user, day) collapse first (events → ≤ span rows per user), then
    ONE left-anti self-join on (user, day+1); the final day is excluded
    (no d+1 exists to disprove the lapse — a truncation artifact, not a
    signal).  Integer epoch-day arithmetic end to end."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(epoch_us(F.col("ts")) / F.lit(86_400_000_000))
        .cast("bigint").alias("d"),
    ).distinct()
    nxt = ud.select("user_id", (F.col("d") - 1).alias("d"))
    max_d = ud.agg(F.max("d").alias("mx"))
    return (
        ud.join(nxt, ["user_id", "d"], "left_anti")
        .crossJoin(F.broadcast(max_d))
        .where(F.col("d") < F.col("mx"))
        .groupBy("d").agg(F.count(F.lit(1)).alias("n_lapsed"))
    )


@query(
    "moments_per_event_type",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    s AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS DECIMAL(38,0))) AS d1,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS d2,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS s2,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x) AS DOUBLE) AS s3,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x * x * x) AS DOUBLE)
                   AS s4
        FROM c GROUP BY 1
    )
    SELECT event_type, n,
           round(s1 / n, 9) AS mean_cents,
           round(CAST(n * d2 - d1 * d1 AS DOUBLE) / n / n / 10000.0, 9)
               AS var_units2,
           round(((s3 - 3.0 * (s1 / n) * s2
                   + 2.0 * (s1 / n) * (s1 / n) * s1) / n)
                 / pow((s2 - (s1 / n) * s1) / n, 1.5), 9) AS skewness,
           round(((s4 - 4.0 * (s1 / n) * s3
                   + 6.0 * (s1 / n) * (s1 / n) * s2
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * s1) / n)
                 / pow((s2 - (s1 / n) * s1) / n, 2.0) - 3.0, 9)
               AS excess_kurtosis
    FROM s
    WHERE n * d2 - d1 * d1 > 0
    """,
)
def moments_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact higher moments — skewness and excess kurtosis per event
    type — from four RAW POWER SUMS staged in DECIMAL(38,0) (x⁴ of a
    49k-cent value is ~6e18: one row fits int64, a sum does not — the
    same overflow staging as the triangle clique volumes).  The sums
    are map-side-combinable (one aggregation, no second pass, unlike
    Welford chains); the central-moment assembly is ONE fixed
    parenthesization chain over exact-integer-derived doubles, 9-decimal
    rounded — identical in any engine.  pow(v, 1.5)/pow(v, 2.0) follow
    the same libm-rounding discipline as ln."""
    e = load_table(spark, sf_dir, "events")
    x = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    xd = x.cast("decimal(38,0)")
    s = e.select("event_type", x.alias("x"), xd.alias("xd")).groupBy(
        "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xd").alias("d1"),
        F.sum(F.col("xd") * F.col("x")).alias("d2"),
        F.sum("xd").cast("double").alias("s1"),
        F.sum(F.col("xd") * F.col("x")).cast("double").alias("s2"),
        F.sum(F.col("xd") * F.col("x") * F.col("x")).cast("double")
        .alias("s3"),
        F.sum(F.col("xd") * F.col("x") * F.col("x") * F.col("x"))
        .cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    var = (s2 - m * s1) / n
    m3 = (s3 - 3.0 * m * s2 + 2.0 * m * m * s1) / n
    m4 = (s4 - 4.0 * m * s3 + 6.0 * m * m * s2 - 3.0 * m * m * m * s1) / n
    # VARIANCE is emitted from the EXACT integer numerator n·Σx² − (Σx)²
    # (decimal-staged) with the n² division applied as two correctly-
    # rounded steps: at cents² magnitudes the 9-decimal quantum sits
    # BELOW one double ulp, so the compound m-chain (which engines may
    # FMA-contract differently) is not representable-stable there — the
    # O(1) skewness/kurtosis chains absorb ulp noise in the rounding,
    # the big-magnitude column must not go through a chain at all.
    num2 = n.cast("decimal(38,0)") * F.col("d2") - F.col("d1") * F.col("d1")
    # …and rescaled to UNITS² (÷100²): at cents² magnitude (~1e7+) the
    # 9-decimal grid is finer than one double ulp, making round() itself
    # engine-dependent; in units² the quantum sits 3 orders above ulp.
    var_exact = num2.cast("double") / n / n / 10000.0
    # constant groups (var = 0) are EXCLUDED rather than emitting the
    # NaN/Inf divergence 0-division would hand each engine differently
    return s.where(num2 > 0).select(
        "event_type", "n",
        F.round(m, 9).alias("mean_cents"),
        F.round(var_exact, 9).alias("var_units2"),
        F.round(m3 / F.pow(var, 1.5), 9).alias("skewness"),
        F.round(m4 / F.pow(var, 2.0) - 3.0, 9).alias("excess_kurtosis"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'orders.custkey' AS fk, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem.orderkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.partkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-foreign-key counts for the
    three fact→dimension edges of the schema — the ingest-gate check a
    warehouse runs before promoting a snapshot.  Each edge is ONE left
    join + conditional count (a full-scan row count AND the orphan count
    ride the same pass — never a second scan); the three audits union
    into a single 3-row report.  At 100 TB each probe side is the
    dimension (broadcast when it fits), and the audit shares the fact
    scan shape of the queries it guards."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def audit(fact, dim, fk, pk, label):
        return (
            fact.select(F.col(fk)).join(
                dim.select(F.col(pk)), fact[fk] == dim[pk], "left")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.isnull(F.col(pk)).cast("bigint"))
                 .alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    return (
        audit(o, c, "o_custkey", "c_custkey", "orders.custkey")
        .unionByName(audit(li, o, "l_orderkey", "o_orderkey",
                           "lineitem.orderkey"))
        .unionByName(audit(li, p, "l_partkey", "p_partkey",
                           "lineitem.partkey"))
    )


@query(
    "monthly_revenue_growth",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    )
    SELECT m.month, m.cents,
           m.cents - p.cents AS delta_cents,
           CAST(m.cents - p.cents AS DOUBLE) / p.cents AS growth
    FROM m LEFT JOIN m p ON m.month = p.month + INTERVAL 1 MONTH
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: monthly order revenue with the
    month-over-month delta and relative growth — the standard trend
    report.  Heavy lifting is ONE aggregation to the month grain
    (integer cents); the previous month attaches by a VALUE-BASED
    calendar self-join (month = prev + 1 MONTH) on the months-sized
    aggregate — no global-order window anywhere in the plan (the
    package-wide lint forbids them), and a calendar gap yields NULL
    growth instead of silently comparing across it.  delta is exact
    integer; growth is one bigint division."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100)
                .cast("bigint")).alias("cents"))
    prev = m.select(
        (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("month"),
        F.col("cents").alias("__prev"))
    return m.join(prev, "month", "left").select(
        "month", "cents",
        (F.col("cents") - F.col("__prev")).alias("delta_cents"),
        ((F.col("cents") - F.col("__prev")).cast("double")
         / F.col("__prev")).alias("growth"))


@query(
    "cumulative_distinct_types",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(is_first) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_distinct_types
    FROM flagged
    """,
)
def cumulative_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative EXACT distinct count per user over time — "how many
    distinct event types has this user touched as of each event" — via
    the first-occurrence-flag decomposition: a running COUNT DISTINCT
    (which no engine supports as a window) becomes row_number()=1 flags
    over (user, type) plus a running SUM of flags over (user) — two
    window passes sharing the user_id hash partitioning, all-integer,
    no state explosion (the naive per-frame set would carry every seen
    type per row)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = e.select(
        "user_id", "event_id", "ts",
        (F.row_number().over(wt) == 1).cast("int").alias("is_first"))
    return flagged.select(
        "user_id", "event_id",
        F.sum("is_first").over(wu).cast("bigint")
        .alias("n_distinct_types"))


_SNB_W = 4  # sorted-neighborhood window (pairs within 3 sort positions)


@query(
    "sorted_neighborhood_linkage",
    oracle=f"""
    WITH pos AS (
        SELECT c_custkey, c_name,
               ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS p
        FROM customer
    )
    SELECT CAST(levenshtein(a.c_name, b.c_name) AS INT) AS lev,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pos a JOIN pos b
      ON b.p - a.p BETWEEN 1 AND {_SNB_W - 1}
    GROUP BY 1
    """,
)
def sorted_neighborhood_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood entity resolution
    (operators/linkage.sorted_neighborhood_pairs): candidates are the
    pairs within 3 positions of each other in the GLOBAL c_name sort —
    the boundary-free alternative to equi-blocking, exactly
    (window−1)·n candidates.  Positions come from the distributed
    bucket-rank + exclusive-offset decomposition (order-preserving
    name-prefix buckets), never a single-task global window; the edit-
    distance histogram over the candidates measures the blocking's
    yield.  The oracle brute-forces the same window over a true global
    ROW_NUMBER."""
    from map_reduce_folds_spark.operators import linkage as LK

    c = load_table(spark, sf_dir, "customer")
    pairs = LK.sorted_neighborhood_pairs(
        c, "c_custkey", "c_name",
        bucket=F.substring("c_name", 10, 6), window=_SNB_W)
    return pairs.groupBy(
        F.levenshtein("key_a", "key_b").cast("int").alias("lev")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "rfm_customer_segments",
    oracle="""
    WITH m AS (
        SELECT o_custkey,
               CAST(epoch_us(MAX(o_orderdate)) // 86400000000 AS BIGINT)
                   AS rec,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS mon
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT
          (SELECT v FROM (SELECT rec v, ROW_NUMBER() OVER (ORDER BY rec) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*25+99)//100) r1,
          (SELECT v FROM (SELECT rec v, ROW_NUMBER() OVER (ORDER BY rec) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*50+99)//100) r2,
          (SELECT v FROM (SELECT rec v, ROW_NUMBER() OVER (ORDER BY rec) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*75+99)//100) r3,
          (SELECT v FROM (SELECT freq v, ROW_NUMBER() OVER (ORDER BY freq) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*25+99)//100) f1,
          (SELECT v FROM (SELECT freq v, ROW_NUMBER() OVER (ORDER BY freq) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*50+99)//100) f2,
          (SELECT v FROM (SELECT freq v, ROW_NUMBER() OVER (ORDER BY freq) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*75+99)//100) f3,
          (SELECT v FROM (SELECT mon v, ROW_NUMBER() OVER (ORDER BY mon) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*25+99)//100) m1,
          (SELECT v FROM (SELECT mon v, ROW_NUMBER() OVER (ORDER BY mon) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*50+99)//100) m2,
          (SELECT v FROM (SELECT mon v, ROW_NUMBER() OVER (ORDER BY mon) rn,
                          COUNT(*) OVER () n FROM m) WHERE rn = (n*75+99)//100) m3
    )
    SELECT CAST(1 + CAST(rec > r1 AS INT) + CAST(rec > r2 AS INT)
                + CAST(rec > r3 AS INT) AS INT) AS r_seg,
           CAST(1 + CAST(freq > f1 AS INT) + CAST(freq > f2 AS INT)
                + CAST(freq > f3 AS INT) AS INT) AS f_seg,
           CAST(1 + CAST(mon > m1 AS INT) + CAST(mon > m2 AS INT)
                + CAST(mon > m3 AS INT) AS INT) AS m_seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM m, b GROUP BY 1, 2, 3
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer scored 1-4 on Recency (last order
    day), Frequency (order count), and Monetary (cents total) by
    VALUE-BASED quartiles — boundaries are the exact nearest-rank
    p25/p50/p75 of each metric (operators/windows.
    group_percentiles_hist over one global group), and a
    customer's segment is 1 + #boundaries its value EXCEEDS.  Unlike
    NTILE, ties land in the same bucket by construction — positional
    quartiles are tie-order-dependent, value quartiles are a pure
    function of the data (the determinism the gate needs, and the
    semantics a marketer actually wants).  All-integer metrics and
    boundaries; the three 1-row boundary relations broadcast.  The
    boundary selection is histogram-refined (round-10), so the single
    global group never serializes into one sort task."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.floor(epoch_us(F.max("o_orderdate")) / F.lit(86_400_000_000))
        .cast("bigint").alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100)
              .cast("bigint")).alias("mon"),
    ).localCheckpoint(eager=False)

    # hist-refinement selection (round-10): the single-global-group
    # sort serialized into one task; the hist form's per-task work is
    # bounded by n/nbuckets (picks identical, property-tested).
    # r14: ONE hist pipeline over the melted (metric, value) relation
    # instead of three independent ones — the three boundary relations
    # each replayed the full stats/bucket/pick DAG over m; keying the
    # SAME pipeline by metric computes all nine boundaries in one pass
    # (guide §2.4 "two operations keyed the same way share one
    # exchange"), then pivots the 3-row result into the single
    # broadcast boundary row.  Nearest-rank picks are per-metric and
    # unchanged, so every boundary value is identical.
    melted = m.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("__m"), F.col(c).alias("__v"))
        for c in ("rec", "freq", "mon")])).alias("s")) \
        .select("s.__m", "s.__v")
    b = W.group_percentiles_hist(melted, ["__m"], "__v", qs=(25, 50, 75))
    bounds = F.broadcast(b.groupBy().agg(*[
        F.max(F.when(F.col("__m") == c, F.col(f"p{q}")))
        .alias(f"{c}_b{i}")
        for c in ("rec", "freq", "mon")
        for i, q in enumerate((25, 50, 75), start=1)]))

    seg = m.crossJoin(bounds)

    def code(col):
        return (1 + (F.col(col) > F.col(f"{col}_b1")).cast("int")
                + (F.col(col) > F.col(f"{col}_b2")).cast("int")
                + (F.col(col) > F.col(f"{col}_b3")).cast("int"))

    return seg.select(
        code("rec").alias("r_seg"), code("freq").alias("f_seg"),
        code("mon").alias("m_seg"),
    ).groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_customers"))


@query(
    "autocorr_daily_events",
    oracle="""
    WITH cnt AS (
        SELECT event_type,
               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi
             FROM cnt GROUP BY 1),
    grid AS (
        SELECT s.event_type, g.d
        FROM span s, LATERAL (SELECT unnest(range(s.lo, s.hi + 1)) AS d) g
    ),
    dense AS (
        SELECT g.event_type, g.d, COALESCE(cnt.c, 0) AS c
        FROM grid g
        LEFT JOIN cnt ON cnt.event_type = g.event_type AND cnt.d = g.d
    ),
    pairs AS (
        SELECT event_type, c AS x,
               LEAD(c) OVER (PARTITION BY event_type ORDER BY d) AS y
        FROM dense QUALIFY y IS NOT NULL
    ),
    s AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT event_type, n,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                  OR CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0
                THEN NULL
                ELSE round(
                    CAST(CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                           * CAST(CAST(n AS HUGEINT) * syy
                                  - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 9)
           END AS autocorr
    FROM s
    """,
)
def autocorr_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the DAILY event-count series per type —
    the time-series burstiness diagnostic (near 0: memoryless arrivals;
    high: multi-day waves worth a seasonal model).  Day-grain collapse
    first (events → ≤ span rows per type — the window input is
    AGGREGATE-sized, the monthly_revenue_growth discipline), dense
    zero-filled day range per type (a missing day IS a 0 observation),
    one LEAD window over the tiny series, then Pearson r from six exact
    bigint sums with the ONLY float ops in the terminal
    round(num/sqrt(d1·d2), 9) chain (sqrt is IEEE correctly-rounded —
    engine-portable).  Zero-variance series emit NULL explicitly (Spark
    and DuckDB disagree on x/0.0)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    cnt = (
        e.select("event_type",
                 F.floor(epoch_us(F.col("ts")) / F.lit(86_400_000_000))
                 .cast("bigint").alias("d"))
        .groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("c"))
    )
    span = cnt.groupBy("event_type").agg(F.min("d").alias("lo"),
                                         F.max("d").alias("hi"))
    dense = (
        span.select("event_type",
                    F.explode(F.sequence("lo", "hi")).alias("d"))
        .join(cnt, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = (
        dense.select("event_type", F.col("c").alias("x"),
                     F.lead("c").over(w).alias("y"))
        .where(F.col("y").isNotNull())
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    # n·Σ products overflow int64 once per-day counts reach ~10k (the
    # 100× rehearsal hit it) — stage through DECIMAL like the moments
    # query (DuckDB mirror: HUGEINT), and test the two variance factors
    # for zero SEPARATELY (their product would need 128 bits too)
    dec = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    d1 = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    d2 = dec("n") * dec("syy") - dec("sy") * dec("sy")
    return s.select(
        "event_type", "n",
        F.when((d1 == 0) | (d2 == 0), F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double")
                           / F.sqrt(d1.cast("double") * d2.cast("double")),
                           9)).alias("autocorr"))


_XCORR_MAX_LAG = 7


@query(
    "xcorr_views_purchases_daily",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d
        FROM events
    ),
    span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ev),
    grid AS (SELECT unnest(range(lo, hi + 1)) AS d FROM span),
    cx AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM ev
           WHERE event_type = 'view' GROUP BY 1),
    cy AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM ev
           WHERE event_type = 'purchase' GROUP BY 1),
    dense AS (
        SELECT g.d, COALESCE(cx.c, 0) AS x, COALESCE(cy.c, 0) AS y
        FROM grid g LEFT JOIN cx ON cx.d = g.d LEFT JOIN cy ON cy.d = g.d
    ),
    lags AS (SELECT unnest(range(-{_XCORR_MAX_LAG},
                                 {_XCORR_MAX_LAG} + 1)) AS lag),
    pairs AS (
        SELECT l.lag, a.x AS x, b.y AS y
        FROM lags l JOIN dense a ON TRUE JOIN dense b ON b.d = a.d + l.lag
    ),
    s AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, n,
           CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
                  OR CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy = 0
                THEN NULL
                ELSE round(
                    CAST(CAST(n AS HUGEINT) * sxy
                         - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                    / sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                           * CAST(CAST(n AS HUGEINT) * syy
                                  - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 9)
           END AS xcorr
    FROM s
    """,
)
def xcorr_views_purchases_daily(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """LEAD-LAG cross-correlation between the daily 'view' and
    'purchase' series at lags −7…+7 — the funnel-timing diagnostic
    (positive peak at lag ℓ > 0: views lead purchases by ℓ days),
    autocorr_daily_events' two-series generalization.  Same dense
    zero-filled day grid over the global event span (a missing day IS
    a 0), a bounded grid×15-lag shifted self-join (calendar² rows at
    most — never event rows), then per-lag Pearson r from six exact
    bigint sums with the shared DECIMAL-staged round(num/sqrt(d1·d2), 9)
    terminal chain; zero-variance lags emit NULL."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select("event_type",
                  F.floor(epoch_us(F.col("ts")) / F.lit(86_400_000_000))
                  .cast("bigint").alias("d"))
    span = ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    grid = span.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    cx = (ev.where(F.col("event_type") == "view")
          .groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("cx")))
    cy = (ev.where(F.col("event_type") == "purchase")
          .groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("cy")))
    dense = (grid.join(cx, "d", "left").join(cy, "d", "left")
             .select("d", F.coalesce("cx", F.lit(0)).alias("x"),
                     F.coalesce("cy", F.lit(0)).alias("y")))
    lags = spark.range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1) \
        .select(F.col("id").cast("bigint").alias("lag"))
    a = dense.alias("a")
    b = dense.alias("b")
    pairs = (lags.crossJoin(a)   # bounded: 15 lags × calendar days
             .join(b, F.col("b.d") == F.col("a.d") + F.col("lag"))
             .select("lag", F.col("a.x").alias("x"),
                     F.col("b.y").alias("y")))
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    dec = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    d1 = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    d2 = dec("n") * dec("syy") - dec("sy") * dec("sy")
    return s.select(
        "lag", "n",
        F.when((d1 == 0) | (d2 == 0), F.lit(None).cast("double"))
        .otherwise(F.round(num.cast("double")
                           / F.sqrt(d1.cast("double") * d2.cast("double")),
                           9)).alias("xcorr"))


@query(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
        FROM customer GROUP BY 1, 2
    ),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(sz) AS BIGINT) AS min_group_size,
           CAST(COALESCE(COUNT(*) FILTER (WHERE sz < k), 0) AS BIGINT)
               AS groups_below_k,
           CAST(COALESCE(SUM(sz) FILTER (WHERE sz < k), 0) AS BIGINT)
               AS rows_at_risk
    FROM g CROSS JOIN ks
    GROUP BY k
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier — the privacy gate a training-data release runs
    BEFORE shipping: for each candidate k, how many quasi-identifier
    groups fall below k members and how many rows those groups expose
    (a row in a size-1 group is re-identifiable from the
    quasi-identifiers alone; Sweeney's k-anonymity, public literature).
    One group-size aggregation (map-side combinable) cross-joined with
    the tiny k ladder — the group relation is aggregate-sized, the
    audit is pure integer arithmetic."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz"))
    ks = spark.createDataFrame([(2,), (5,), (10,)], "k int")
    below = F.when(F.col("sz") < F.col("k"), F.col("sz"))
    return (
        g.crossJoin(F.broadcast(ks))
        .groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.min("sz").cast("bigint").alias("min_group_size"),
            F.coalesce(F.count(below), F.lit(0)).cast("bigint")
            .alias("groups_below_k"),
            F.coalesce(F.sum(below), F.lit(0)).cast("bigint")
            .alias("rows_at_risk"))
    )


@query(
    "l_diversity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS sz,
               CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000)
                                        AS BIGINT)) AS BIGINT) AS ndist
        FROM customer GROUP BY 1, 2
    ),
    ls AS (SELECT unnest([2, 3, 5]) AS l)
    SELECT l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(ndist) AS BIGINT) AS min_distinct_sensitive,
           CAST(COALESCE(COUNT(*) FILTER (WHERE ndist < l), 0) AS BIGINT)
               AS groups_below_l,
           CAST(COALESCE(SUM(sz) FILTER (WHERE ndist < l), 0) AS BIGINT)
               AS rows_at_risk
    FROM g CROSS JOIN ls
    GROUP BY l
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ℓ-DIVERSITY audit over the same (nation, market-segment)
    quasi-identifier as k_anonymity_audit, with the account-balance
    band (floor(acctbal/1000)) as the SENSITIVE attribute — the attack
    k-anonymity misses (Machanavajjhala et al. 2006): a size-50 group
    whose members all share ONE sensitive value still discloses it.
    For each candidate ℓ: groups whose distinct-sensitive count falls
    below ℓ and the rows they expose.  One grouped COUNT DISTINCT over
    the bounded sensitive-band domain (map-side partial-distinct),
    cross-joined with the tiny ℓ ladder; pure integer arithmetic."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.countDistinct(band).cast("bigint").alias("ndist"))
    ls = spark.createDataFrame([(2,), (3,), (5,)], "l int")
    below_rows = F.when(F.col("ndist") < F.col("l"), F.col("sz"))
    below_grp = F.when(F.col("ndist") < F.col("l"), F.lit(1))
    return (
        g.crossJoin(F.broadcast(ls))
        .groupBy("l").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.min("ndist").cast("bigint")
            .alias("min_distinct_sensitive"),
            F.coalesce(F.count(below_grp), F.lit(0)).cast("bigint")
            .alias("groups_below_l"),
            F.coalesce(F.sum(below_rows), F.lit(0)).cast("bigint")
            .alias("rows_at_risk"))
    )


_ZB = 8       # z-order bits per dimension (z < 2^16)
_ZFB = 6      # file bits: 2^6 = 64 target files per layout


def _zq_sql(v: str, lo: str, hi: str, bits: int) -> str:
    """DuckDB text of operators/relational.zorder_quantize (`//` is
    DuckDB's integer floor-div; inputs are non-negative spans)."""
    k = (1 << bits) - 1
    return (f"CASE WHEN {hi} - {lo} > 0 THEN "
            f"CAST((({v} - {lo}) * {k}) // ({hi} - {lo}) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END")


@query(
    "zorder_layout_audit",
    oracle=f"""
    WITH base AS (
        SELECT CAST(o_orderkey AS BIGINT) AS ok,
               CAST(o_custkey AS BIGINT) AS ck,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS d
        FROM orders
    ),
    st AS (
        SELECT MIN(ok) AS ok_lo, MAX(ok) AS ok_hi,
               MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
               MIN(d) AS d_lo, MAX(d) AS d_hi
        FROM base
    ),
    j AS (
        SELECT base.*, st.*,
               ck_lo + (ck_hi - ck_lo) // 8 AS bl_ck,
               ck_lo + 3 * ((ck_hi - ck_lo) // 8) AS bh_ck,
               d_lo + (d_hi - d_lo) // 8 AS bl_d,
               d_lo + 3 * ((d_hi - d_lo) // 8) AS bh_d
        FROM base CROSS JOIN st
    ),
    q AS (
        SELECT *,
               {_zq_sql('ck', 'ck_lo', 'ck_hi', _ZB)} AS qck,
               {_zq_sql('d', 'd_lo', 'd_hi', _ZB)} AS qd
        FROM j
    ),
    lay AS (
        SELECT 'orderkey' AS layout,
               {_zq_sql('ok', 'ok_lo', 'ok_hi', _ZFB)} AS f,
               ck, d, bl_ck, bh_ck, bl_d, bh_d
        FROM q
        UNION ALL
        SELECT 'zorder' AS layout,
               {R.zorder_value_sql('qck', 'qd', _ZB)} >> {2 * _ZB - _ZFB}
                   AS f,
               ck, d, bl_ck, bh_ck, bl_d, bh_d
        FROM q
    ),
    pf AS (
        SELECT layout, f,
               MIN(ck) AS f_ck_lo, MAX(ck) AS f_ck_hi,
               MIN(d) AS f_d_lo, MAX(d) AS f_d_hi,
               CAST(COUNT(*) AS BIGINT) AS sz,
               CAST(COALESCE(SUM(CASE WHEN ck BETWEEN bl_ck AND bh_ck
                                       AND d BETWEEN bl_d AND bh_d
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS mrows,
               MIN(bl_ck) AS bl_ck, MIN(bh_ck) AS bh_ck,
               MIN(bl_d) AS bl_d, MIN(bh_d) AS bh_d
        FROM lay GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(COALESCE(SUM(CASE WHEN f_ck_lo <= bh_ck
                                   AND f_ck_hi >= bl_ck
                                   AND f_d_lo <= bh_d
                                   AND f_d_hi >= bl_d
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS files_scanned,
           CAST(COALESCE(SUM(CASE WHEN f_ck_lo <= bh_ck
                                   AND f_ck_hi >= bl_ck
                                   AND f_d_lo <= bh_d
                                   AND f_d_hi >= bl_d
                                  THEN sz ELSE 0 END), 0) AS BIGINT)
               AS rows_in_scanned_files,
           CAST(SUM(mrows) AS BIGINT) AS rows_matching
    FROM pf GROUP BY 1
    """,
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER LAYOUT AUDIT (operators/relational.zorder_value — Morton
    1966, the clustering key behind Delta/Iceberg OPTIMIZE ZORDER):
    range-partition orders into 64 files two ways — by orderkey
    (insertion order) and by the (custkey, order-day) z-value — then
    measure multi-dimensional DATA SKIPPING for a fixed 2-D box
    predicate (the middle [1/8, 3/8] band of each dimension) from
    per-file min/max envelopes, exactly how a parquet reader prunes row
    groups.  The 100 TB point made quantitative: the orderkey layout
    scans ~every file (custkey is uniform within each), the z-layout
    scans ~the box's z-range.  All integer arithmetic: equal-width
    quantization via exact floor-div, the unrolled 16-bit interleave,
    envelope overlap tests; no floats anywhere."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").cast("bigint").alias("ok"),
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint").alias("d"))
    st = base.agg(F.min("ok").alias("ok_lo"), F.max("ok").alias("ok_hi"),
                  F.min("ck").alias("ck_lo"), F.max("ck").alias("ck_hi"),
                  F.min("d").alias("d_lo"), F.max("d").alias("d_hi"))
    j = (base.crossJoin(F.broadcast(st))
         .withColumn("bl_ck", F.expr("ck_lo + (ck_hi - ck_lo) div 8"))
         .withColumn("bh_ck",
                     F.expr("ck_lo + 3 * ((ck_hi - ck_lo) div 8)"))
         .withColumn("bl_d", F.expr("d_lo + (d_hi - d_lo) div 8"))
         .withColumn("bh_d", F.expr("d_lo + 3 * ((d_hi - d_lo) div 8)")))
    q = (j.withColumn("qck", R.zorder_quantize(
            F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), _ZB))
         .withColumn("qd", R.zorder_quantize(
            F.col("d"), F.col("d_lo"), F.col("d_hi"), _ZB)))
    keep = ["ck", "d", "bl_ck", "bh_ck", "bl_d", "bh_d"]
    lay = (
        q.select(F.lit("orderkey").alias("layout"),
                 R.zorder_quantize(F.col("ok"), F.col("ok_lo"),
                                   F.col("ok_hi"), _ZFB).alias("f"),
                 *keep)
        .unionByName(q.select(
            F.lit("zorder").alias("layout"),
            F.shiftright(R.zorder_value(F.col("qck"), F.col("qd"), _ZB),
                         2 * _ZB - _ZFB).cast("bigint").alias("f"),
            *keep))
    )
    in_box = (F.col("ck").between(F.col("bl_ck"), F.col("bh_ck"))
              & F.col("d").between(F.col("bl_d"), F.col("bh_d")))
    pf = lay.groupBy("layout", "f").agg(
        F.min("ck").alias("f_ck_lo"), F.max("ck").alias("f_ck_hi"),
        F.min("d").alias("f_d_lo"), F.max("d").alias("f_d_hi"),
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.coalesce(F.sum(F.when(in_box, 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("mrows"),
        F.min("bl_ck").alias("bl_ck"), F.min("bh_ck").alias("bh_ck"),
        F.min("bl_d").alias("bl_d"), F.min("bh_d").alias("bh_d"))
    hit = ((F.col("f_ck_lo") <= F.col("bh_ck"))
           & (F.col("f_ck_hi") >= F.col("bl_ck"))
           & (F.col("f_d_lo") <= F.col("bh_d"))
           & (F.col("f_d_hi") >= F.col("bl_d")))
    return pf.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("files_total"),
        F.coalesce(F.sum(F.when(hit, 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("files_scanned"),
        F.coalesce(F.sum(F.when(hit, F.col("sz")).otherwise(0)),
                   F.lit(0)).cast("bigint")
        .alias("rows_in_scanned_files"),
        F.sum("mrows").cast("bigint").alias("rows_matching"))


@query(
    "weekday_profile_events",
    oracle="""
    WITH d AS (
        SELECT event_type,
               CAST(floor(epoch_us(ts) / 86400000000) % 7 AS BIGINT) AS dow
        FROM events
    ),
    c AS (SELECT event_type, dow, COUNT(*) AS n FROM d GROUP BY 1, 2),
    t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
    SELECT c.event_type, c.dow, CAST(c.n AS BIGINT) AS n,
           CAST(c.n AS DOUBLE) / t.tot AS share
    FROM c JOIN t USING (event_type)
    """,
)
def weekday_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity profile per event type — the seasonality
    fingerprint (weekday-heavy clickstreams vs flat bot traffic).  The
    weekday is the EPOCH-DAY residue mod 7 (day 0 = 1970-01-01, a
    Thursday) — a pure integer function of the timestamp, free of
    timezone/locale WEEKDAY() semantics that differ across engines.
    Two map-side-combinable aggregations over (type, dow ≤ 35 rows);
    each share is one IEEE double division."""
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "event_type",
        (F.floor(epoch_us(F.col("ts")) / F.lit(86_400_000_000)) % 7)
        .cast("bigint").alias("dow"))
    c = d.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "event_type")
        .select("event_type", "dow", F.col("n").cast("bigint").alias("n"),
                (F.col("n").cast("double") / F.col("tot")).alias("share"))
    )


@query(
    "hhi_supplier_concentration",
    oracle="""
    WITH rev AS (
        SELECT n.n_regionkey AS region, l.l_suppkey AS supp,
               SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS c
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT region, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               SUM(CAST(c AS DECIMAL(38,0)) * c) AS sq,
               SUM(CAST(c AS DECIMAL(38,0))) AS tot
        FROM rev GROUP BY 1
    )
    SELECT region, n_suppliers,
           CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
               AS hhi
    FROM agg
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each region — the market-structure diagnostic (HHI = Σ shareᵢ²;
    1/n for perfectly even suppliers, → 1 under monopoly).  Computed
    WITHOUT a float share sum: HHI = Σcᵢ²/(Σcᵢ)² with revenue
    fixed-pointed to exact 1e-4 units, both Σc² and Σc staged through
    DECIMAL(38,0) (c² overflows int64 — the moments discipline), and
    the ONLY float math the terminal division of two exact quantities.
    Supplier→nation→region joins broadcast the dims; the revenue agg is
    map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.sum(
        ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
         .cast("decimal(18,4)") * 10000).cast("bigint")).alias("c")
    rev = (
        li.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_regionkey").alias("region"),
                 F.col("l_suppkey").alias("supp"))
        .agg(cents)
    )
    cd = F.col("c").cast("decimal(38,0)")
    agg = rev.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum(cd * F.col("c")).alias("sq"),
        F.sum(cd).alias("tot"))
    return agg.select(
        "region", "n_suppliers",
        (F.col("sq").cast("double")
         / (F.col("tot").cast("double") * F.col("tot").cast("double")))
        .alias("hhi"))


@query(
    "session_duration_percentiles",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
               CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, tus,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_id
        FROM flagged
    ),
    dur AS (
        SELECT user_id, session_id,
               MAX(tus) - MIN(tus) AS dur_us
        FROM sessions GROUP BY 1, 2
    ),
    r AS (
        SELECT dur_us, ROW_NUMBER() OVER (ORDER BY dur_us) AS rn,
               COUNT(*) OVER () AS n
        FROM dur
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN dur_us END) AS p50,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN dur_us END) AS p90,
           MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN dur_us END) AS p99,
           MAX(CASE WHEN rn = n THEN dur_us END) AS vmax
    FROM r
    """,
)
def session_duration_percentiles(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Global session-duration distribution: sessionize (30-min gap),
    per-session duration in exact epoch-micros, then nearest-rank
    p50/p90/p99/max via HISTOGRAM REFINEMENT
    (operators/windows.group_percentiles_hist over one global group —
    the single-group case is exactly where a sort-based selection
    serializes into one task).  The engagement-health companion to
    sessionize_events: how long sessions actually run, robustly.
    All-integer durations, integer rank indices, bigint picks."""
    e = load_table(spark, sf_dir, "events")
    s = W.sessionize(e, key="user_id", ts="ts", gap_seconds=1800)
    tus = epoch_us(F.col("ts"))
    dur = s.groupBy("user_id", "session_id").agg(
        (F.max(tus) - F.min(tus)).alias("dur_us"))
    out = W.group_percentiles_hist(
        dur.withColumn("__g", F.lit(1)), ["__g"], "dur_us",
        qs=(50, 90, 99))
    return out.select("n", "p50", "p90", "p99", "vmax")


@query(
    "conversion_latency_percentiles",
    oracle="""
    WITH u AS (
        SELECT user_id, MIN(epoch_us(ts)) AS first_seen,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS first_purchase
        FROM events GROUP BY user_id
    ),
    lat AS (
        SELECT first_purchase - first_seen AS lat_us
        FROM u WHERE first_purchase IS NOT NULL
    ),
    r AS (
        SELECT lat_us, ROW_NUMBER() OVER (ORDER BY lat_us) AS rn,
               COUNT(*) OVER () AS n
        FROM lat
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converting,
           MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN lat_us END) AS p50,
           MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN lat_us END) AS p90,
           MAX(CASE WHEN rn = n THEN lat_us END) AS vmax
    FROM r
    """,
)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Time-to-first-purchase distribution: per user, the exact micros
    between their first event of any kind and their first purchase
    (non-converting users drop — absence of a purchase is censoring,
    not a latency), then global nearest-rank p50/p90/max via the
    histogram-refinement selector.  The funnel family's latency axis
    (funnel_conversion counts WHO converts; this measures HOW LONG the
    corpus takes to convert).  One conditional-min aggregation per
    user — no window over the event stream at all — then the
    aggregate-sized selection."""
    e = load_table(spark, sf_dir, "events")
    tus = epoch_us(F.col("ts"))
    u = e.groupBy("user_id").agg(
        F.min(tus).alias("first_seen"),
        F.min(F.when(F.col("event_type") == "purchase", tus))
        .alias("first_purchase"))
    lat = (u.where(F.col("first_purchase").isNotNull())
           .select((F.col("first_purchase") - F.col("first_seen"))
                   .alias("lat_us")))
    out = W.group_percentiles_hist(
        lat.withColumn("__g", F.lit(1)), ["__g"], "lat_us", qs=(50, 90))
    return out.select(F.col("n").alias("n_converting"), "p50", "p90",
                      "vmax")


def _ols2_oracle() -> str:
    from map_reduce_folds_spark.operators.relational import ols2_sql

    return ols2_sql(
        "lineitem",
        "CAST(l_extendedprice AS DECIMAL(12,2)) * 100",
        "CAST(round(l_quantity) AS BIGINT)",
        "CAST(round(l_discount * 100) AS BIGINT)",
        ("l_returnflag",))


@query("ols2_price_model", oracle=_ols2_oracle())
def ols2_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple regression per return flag — extended price
    (cents) against quantity and discount basis points
    (operators/relational.ols2_fit): distributed linear-model training
    with no iteration, the two-regressor upgrade of trend_per_user.
    One scan of DECIMAL-staged exact integer moments, a fixed-
    parenthesization 2x2 normal-equation solve in the plan, 9-decimal
    rounding — hash-exact against the HUGEINT mirror.  (price ~ b1*qty
    recovers the per-unit price scale; r2 reports the fit.)"""
    from map_reduce_folds_spark.operators.relational import ols2_fit

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("bigint").alias("y_cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("x_qty"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x_disc"),
    )
    return ols2_fit(pts, "y_cents", "x_qty", "x_disc", ("l_returnflag",))


def _mta_oracle() -> str:
    from map_reduce_folds_spark.operators.windows import (
        multi_touch_attribution_sql,
    )

    return multi_touch_attribution_sql(
        "events", "user_id", "ts", "event_type", "value",
        conversion="purchase", touch_types=("view", "click"),
        within_us=3_600_000_000, tiebreak_expr="event_id")


@query("multi_touch_attribution", oracle=_mta_oracle())
def multi_touch_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution of purchase value across the
    preceding hour's view/click touches
    (operators/windows.multi_touch_attribution) — the multi-touch
    upgrade of single-touch interval attribution, under a hash-exact
    oracle because the accounting is INTEGER end-to-end: cents·1000
    micro-units split by floor division with the remainder pinned to
    the last touch, so per-conversion credit conserves exactly and
    group totals are integer sums (no float summation order).
    Untouched conversions land in the 'direct' bucket."""
    from map_reduce_folds_spark.operators.windows import (
        multi_touch_attribution,
    )

    e = load_table(spark, sf_dir, "events")
    return multi_touch_attribution(
        e, "user_id", "ts", "event_type", "value",
        conversion="purchase", touch_types=("view", "click"),
        within_us=3_600_000_000, tiebreak_col="event_id")


def _shard_skew_oracle() -> str:
    from map_reduce_folds_spark.sources import shard_skew_audit_sql

    return shard_skew_audit_sql("lineitem", ["l_orderkey"], 64)


@query("shard_skew_lineitem", oracle=_shard_skew_oracle())
def shard_skew_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-planning audit (sources.shard_skew_audit): would
    bucketing lineitem on l_orderkey into 64 shards balance?  Exactly
    the decision the q9 bucketed recipe and the scale_audit
    bucketed-join rule ask before a write-once layout — answered with
    the portable md5 hash60 preview (used buckets, nearest-rank size
    percentiles, max/mean skew factor), engine-exact."""
    from map_reduce_folds_spark.sources import shard_skew_audit

    li = load_table(spark, sf_dir, "lineitem")
    return shard_skew_audit(li, ["l_orderkey"], 64)


def _join_size_oracle() -> str:
    from map_reduce_folds_spark.operators.relational import join_size_audit_sql

    return join_size_audit_sql("orders", "lineitem",
                               "o_orderkey", "l_orderkey", top_n=5)


@query("join_size_audit_orders", oracle=_join_size_oracle())
def join_size_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality + skew audit for orders x lineitem
    (operators/relational.join_size_audit): the EXACT equi-join output
    size and the five hottest keys by pair product, computed from two
    per-key count relations — the join itself never runs.  The
    planning companion of shard_skew_lineitem: decide broadcast /
    bucketed layout / salting BEFORE the shuffle, from an identity
    (sum of per-key count products), not an estimate."""
    from map_reduce_folds_spark.operators.relational import join_size_audit

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return join_size_audit(o, li, "o_orderkey", "l_orderkey", top_n=5)


_HOLT_A, _HOLT_B, _HOLT_H = 2, 2, 3


# needed above the evalstats-family section's own import (line order)
from map_reduce_folds_spark.operators import evalstats as ES  # noqa: E402


@query(
    "confseq_stream_stateful",
    oracle=ES.confseq_bounds_sql(
        """SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS n_cum,
                  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                         THEN 1 ELSE 0 END), 0)
                       AS BIGINT) AS s_cum
           FROM events GROUP BY 1""",
        keep_cols="bucket"),
)
def confseq_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth stateful-streaming path under the driver gate: the
    ANYTIME-VALID purchase-rate monitor run END-TO-END as a GroupState
    stream (``streaming.stream_confseq``, applyInPandasWithState) over a
    two-batch file replay of per-cohort purchase counts, verified
    bitwise against the batch whole-history counts + the shared
    confseq_bounds chain.  Simpler determinism argument than the
    CUSUM/Holt rows: the state is two COMMUTATIVE integer sums, so no
    (ts, tiebreak) ordering is needed at all — any split/arrival order
    yields the same final state; the band columns are the SAME Spark
    expression on both sides.  Final per-cohort state = the max-n_cum
    emission (monotone per key under update mode)."""
    from map_reduce_folds_spark.streaming import (
        replay_to_memory, stream_confseq)

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 8).cast("bigint").alias("bucket"),
        (F.col("event_type") == "purchase").cast("bigint").alias("succ"),
        "ts")
    got = replay_to_memory(
        spark, [[half.select("bucket", "succ")]
                for half in _split_at_median_ts(ev)],
        "bucket bigint, succ bigint",
        lambda stream: stream_confseq(stream, "bucket", "succ"),
        "confseq_stream_stateful_q", "update")
    return _final_state(got, "bucket", "n_cum", "s_cum", "rate", "radius",
                        "lo", "hi")


@query(
    "holt_stream_stateful",
    oracle=W.holt_last_sql("events", "user_id", "ts", "value",
                           tiebreak_expr="event_id", alpha_halves=_HOLT_A,
                           beta_halves=_HOLT_B, horizon=_HOLT_H),
)
def holt_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third stateful-streaming path under the driver gate: the HOLT
    level+trend smoother run END-TO-END as a GroupState stream
    (``streaming.stream_holt``, applyInPandasWithState) over a
    two-batch ts-ordered file replay, verified BITWISE (doubles
    included — the contract-form power-of-two recursion is arrival-
    order-deterministic under the split) against the same recursive-CTE
    oracle the batch holt_user_forecast row carries (``windows.holt_last``).
    State — three scalars per key — carries across the micro-batch
    boundary.  Same median-timestamp split / pinned file order /
    one-file-per-trigger determinism argument as
    ``cusum_stream_stateful`` (equal-ts pairs land in one file where the
    in-batch (ts, tiebreak) sort orders them); the final per-user state
    is the row with the largest n_events (monotone per key under update
    mode)."""
    from map_reduce_folds_spark.streaming import (
        replay_to_memory, stream_holt)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id")
    got = replay_to_memory(
        spark, [[half] for half in _split_at_median_ts(ev)],
        "user_id bigint, ts timestamp, value double, event_id bigint",
        lambda stream: stream_holt(stream, "user_id", "ts", "value",
                                   tiebreak_col="event_id",
                                   alpha_halves=_HOLT_A,
                                   beta_halves=_HOLT_B, horizon=_HOLT_H,
                                   output_mode="update"),
        "holt_stream_stateful_q", "update")
    return _final_state(got, "user_id", "n_events", "level", "trend",
                        "forecast")


# ---------------------------------------------------------------------------
# Evaluation-statistics family (operators/evalstats.py) — relational side.

from map_reduce_folds_spark.operators import evalstats as ES  # noqa: E402


@query(
    "spearman_qty_price",
    oracle=ES.spearman_rho_sql(
        "lineitem", "l_quantity",
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)",
        keys=("l_returnflag",)),
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation per return flag:
    quantity vs extended price (cents) — the monotone-association
    companion of ``corr_exact`` for skewed/outlier-heavy columns.
    Tie-averaged ranks held DOUBLED so every moment sum is a bigint
    (the rank machinery is `avg_rank2`: distinct-value aggregation +
    partitioned-bucket cumulative, never a per-group sort), then the
    corr_exact one-double-expression Pearson over ranks."""
    li = load_table(spark, sf_dir, "lineitem")
    lic = li.withColumn(
        "price_c",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint"))
    return ES.spearman_rho(lic, "l_quantity", "price_c",
                           keys=("l_returnflag",))


_ZT_SQL = ES.two_proportion_ztest_sql(
    "events", "CAST(user_id % 8 AS BIGINT)",
    "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")


@query(
    "purchase_ztest_by_bucket",
    oracle=f"SELECT g AS bucket, n, successes, rate, z FROM ({_ZT_SQL})",
)
def purchase_ztest_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test of each user cohort's purchase rate
    against the rest — the A/B-screen primitive (which cohorts convert
    significantly above/below the pool).  One grouped aggregation over
    the events scan; totals via the one-row broadcast idiom; integers
    until the final mirrored double expression."""
    e = load_table(spark, sf_dir, "events")
    eb = (e.withColumn("bucket", (F.col("user_id") % 8).cast("bigint"))
          .withColumn("succ", (F.col("event_type") == "purchase").cast("int")))
    return ES.two_proportion_ztest(eb, "bucket", "succ")


@query(
    "wilson_ci_purchase_by_bucket",
    oracle=f"""SELECT g AS bucket, n, successes, rate, lo, hi
    FROM ({ES.wilson_ci_sql(
        "events", "CAST(user_id % 8 AS BIGINT)",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")})""",
)
def wilson_ci_purchase_by_bucket(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """WILSON SCORE 95% interval on each cohort's purchase rate
    (operators/evalstats.wilson_ci) — purchase_ztest_by_bucket's CI
    companion, and the interval that stays honest at the boundaries
    where the Wald ±z√(pq/n) collapses to zero width.  Exact integer
    cohort counts; one mirrored sqrt/division chain per bound."""
    e = load_table(spark, sf_dir, "events")
    eb = e.select((F.col("user_id") % 8).cast("bigint").alias("bucket"),
                  (F.col("event_type") == "purchase").cast("int")
                  .alias("succ"))
    out = ES.wilson_ci(eb, "bucket", "succ")
    return out.withColumnRenamed("g", "bucket")


@query(
    "ucb1_purchase_cohorts",
    oracle="""
    WITH g AS (
        SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS successes
        FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM g)
    SELECT bucket, n, successes,
           CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS mean_reward,
           CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
               + sqrt(2.0 * round(ln(CAST(nn AS DOUBLE)), 9)
                      / CAST(n AS DOUBLE)) AS ucb
    FROM g CROSS JOIN t
    """,
)
def ucb1_purchase_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 exploration scores per user cohort (Auer, Cesa-Bianchi &
    Fischer 2002): mean purchase reward + √(2·ln N / n) — the
    DETERMINISTIC bandit allocation rule (no RNG state, unlike
    Thompson sampling), ranking which cohort an adaptive experiment
    should probe next: high-mean OR under-sampled.  Exact integer
    counts; one rounded ln (the shared discipline) and one sqrt chain;
    the grand total joins by the one-row scalar-broadcast idiom."""
    e = load_table(spark, sf_dir, "events")
    g = (e.groupBy((F.col("user_id") % 8).cast("bigint").alias("bucket"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.coalesce(F.sum(F.when(F.col("event_type") == "purchase",
                                      1).otherwise(0)), F.lit(0))
              .cast("bigint").alias("successes")))
    t = g.agg(F.sum("n").cast("bigint").alias("nn"))
    j = g.crossJoin(F.broadcast(t))
    mean = F.col("successes").cast("double") / F.col("n").cast("double")
    ucb = mean + F.sqrt(F.lit(2.0)
                        * F.round(F.log(F.col("nn").cast("double")), 9)
                        / F.col("n").cast("double"))
    return j.select("bucket", "n", "successes",
                    mean.alias("mean_reward"), ucb.alias("ucb"))


_KM_HORIZON_H = 48  # administrative-censoring horizon (hours)

# subjects: one row per user — hours from first event to first purchase,
# event=1 if it happened inside the horizon, else censored AT the horizon
_KM_SUBJECTS_SQL = f"""
    WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS f_us
               FROM events GROUP BY 1),
    p AS (SELECT user_id, MIN(epoch_us(ts)) AS fp_us
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
    s AS (SELECT u.user_id,
                 CAST((fp_us - f_us) // 3600000000 AS BIGINT) AS raw_h
          FROM u LEFT JOIN p ON u.user_id = p.user_id)
    SELECT user_id,
           CASE WHEN raw_h IS NOT NULL AND raw_h < {_KM_HORIZON_H}
                THEN raw_h ELSE {_KM_HORIZON_H} END AS duration,
           CASE WHEN raw_h IS NOT NULL AND raw_h < {_KM_HORIZON_H}
                THEN 1 ELSE 0 END AS event
    FROM s"""


@query(
    "km_conversion_curve",
    oracle=ES.kaplan_meier_sql(_KM_SUBJECTS_SQL),
)
def km_conversion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER time-to-conversion (operators/evalstats.
    kaplan_meier): survival curve of hours from a user's FIRST event to
    their FIRST purchase, administratively right-censored at the 48 h
    horizon — the nonparametric conversion/retention curve (Kaplan &
    Meier 1958) with censoring handled correctly, which a naive
    "conversion latency percentile" silently gets wrong.  Subjects
    aggregate from the events scan (two map-side-combinable min's);
    durations are integer hours (exact epoch-microsecond floor
    division), so the distinct-duration relation is bounded at 49 rows
    and the product-limit fold walks a fixed-order rounded-ln chain —
    hash-exact against the mirrored oracle."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.min(epoch_us("ts")).alias("f_us"))
    p = (e.where(F.col("event_type") == "purchase")
         .groupBy("user_id").agg(F.min(epoch_us("ts")).alias("fp_us")))
    raw_h = F.floor((F.col("fp_us") - F.col("f_us")) / F.lit(3600000000))
    inside = raw_h.isNotNull() & (raw_h < _KM_HORIZON_H)
    subj = (u.join(p, "user_id", "left")
            .select("user_id",
                    F.when(inside, raw_h).otherwise(F.lit(_KM_HORIZON_H))
                    .cast("bigint").alias("duration"),
                    F.when(inside, 1).otherwise(0).alias("event")))
    return ES.kaplan_meier(subj, "duration", "event")


@query(
    "na_hazard_conversion",
    oracle=ES.nelson_aalen_sql(_KM_SUBJECTS_SQL),
)
def na_hazard_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative conversion hazard (operators/evalstats.
    nelson_aalen): Ĥ(t) = Σ d_j/n_j over the same first-event→first-
    purchase subjects as km_conversion_curve — the hazard-scale twin of
    the KM curve (Nelson 1972, Aalen 1978), with the binomial variance
    (d/n)·((n−d)/n)/n per step.  Pure division/addition chains over the
    bounded 49-duration step array: no transcendental, bitwise-mirrored
    by construction."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.min(epoch_us("ts")).alias("f_us"))
    p = (e.where(F.col("event_type") == "purchase")
         .groupBy("user_id").agg(F.min(epoch_us("ts")).alias("fp_us")))
    raw_h = F.floor((F.col("fp_us") - F.col("f_us")) / F.lit(3600000000))
    inside = raw_h.isNotNull() & (raw_h < _KM_HORIZON_H)
    subj = (u.join(p, "user_id", "left")
            .select("user_id",
                    F.when(inside, raw_h).otherwise(F.lit(_KM_HORIZON_H))
                    .cast("bigint").alias("duration"),
                    F.when(inside, 1).otherwise(0).alias("event")))
    return ES.nelson_aalen(subj, "duration", "event")


# subjects with a binary cohort: grp = 1 iff the user's FIRST event
# (deterministic (epoch, event_id) tiebreak) is a signup
_LR_SUBJECTS_SQL = f"""
    WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS f_us,
                      CASE WHEN MIN({{'t': epoch_us(ts), 'i': event_id,
                                      'ty': event_type}}).ty = 'signup'
                           THEN 1 ELSE 0 END AS grp
               FROM events GROUP BY 1),
    p AS (SELECT user_id, MIN(epoch_us(ts)) AS fp_us
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
    s AS (SELECT u.user_id, u.grp,
                 CAST((fp_us - f_us) // 3600000000 AS BIGINT) AS raw_h
          FROM u LEFT JOIN p ON u.user_id = p.user_id)
    SELECT user_id, grp,
           CASE WHEN raw_h IS NOT NULL AND raw_h < {_KM_HORIZON_H}
                THEN raw_h ELSE {_KM_HORIZON_H} END AS duration,
           CASE WHEN raw_h IS NOT NULL AND raw_h < {_KM_HORIZON_H}
                THEN 1 ELSE 0 END AS event
    FROM s"""


@query(
    "logrank_signup_conversion",
    oracle=ES.logrank_test_sql(_LR_SUBJECTS_SQL),
)
def logrank_signup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST (operators/evalstats.logrank_test): do users whose
    FIRST event is a signup convert (first purchase, 48 h horizon) on a
    different survival curve than everyone else?  The censoring-correct
    A/B answer the km_conversion_curve family exists to feed — observed
    vs expected group-1 conversions summed over pooled event hours with
    the hypergeometric variance, every count exact, every float chain
    fixed-order."""
    e = load_table(spark, sf_dir, "events")
    first = F.min(F.struct(
        epoch_us("ts").alias("t"), F.col("event_id").alias("i"),
        F.col("event_type").alias("ty")))
    u = e.groupBy("user_id").agg(
        F.min(epoch_us("ts")).alias("f_us"),
        F.when(first["ty"] == "signup", 1).otherwise(0).alias("grp"))
    p = (e.where(F.col("event_type") == "purchase")
         .groupBy("user_id").agg(F.min(epoch_us("ts")).alias("fp_us")))
    raw_h = F.floor((F.col("fp_us") - F.col("f_us")) / F.lit(3600000000))
    inside = raw_h.isNotNull() & (raw_h < _KM_HORIZON_H)
    subj = (u.join(p, "user_id", "left")
            .select("user_id", "grp",
                    F.when(inside, raw_h).otherwise(F.lit(_KM_HORIZON_H))
                    .cast("bigint").alias("duration"),
                    F.when(inside, 1).otherwise(0).alias("event")))
    return ES.logrank_test(subj, "duration", "event", "grp")


@query(
    "rmst_conversion_by_cohort",
    oracle=ES.restricted_mean_survival_sql(
        _LR_SUBJECTS_SQL, _KM_HORIZON_H, keys=["grp"]),
)
def rmst_conversion_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME per cohort (operators/evalstats.
    restricted_mean_survival): expected hours-to-conversion within the
    48 h window for signup-first users vs the rest — the EFFECT SIZE
    companion to logrank_signup_conversion's significance (a z-score
    says curves differ; RMST difference says by how many hours).  Area
    under each cohort's KM curve: integer interval widths x the
    identical rounded-ln survival folds, summed in time order."""
    e = load_table(spark, sf_dir, "events")
    first = F.min(F.struct(
        epoch_us("ts").alias("t"), F.col("event_id").alias("i"),
        F.col("event_type").alias("ty")))
    u = e.groupBy("user_id").agg(
        F.min(epoch_us("ts")).alias("f_us"),
        F.when(first["ty"] == "signup", 1).otherwise(0).alias("grp"))
    p = (e.where(F.col("event_type") == "purchase")
         .groupBy("user_id").agg(F.min(epoch_us("ts")).alias("fp_us")))
    raw_h = F.floor((F.col("fp_us") - F.col("f_us")) / F.lit(3600000000))
    inside = raw_h.isNotNull() & (raw_h < _KM_HORIZON_H)
    subj = (u.join(p, "user_id", "left")
            .select("user_id", "grp",
                    F.when(inside, raw_h).otherwise(F.lit(_KM_HORIZON_H))
                    .cast("bigint").alias("duration"),
                    F.when(inside, 1).otherwise(0).alias("event")))
    return ES.restricted_mean_survival(subj, "duration", "event",
                                       _KM_HORIZON_H, keys=["grp"])


@query(
    "golden_record_customers",
    oracle="""
    WITH RECURSIVE
    pairs AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        WHERE a.c_name IS NOT NULL AND b.c_name IS NOT NULL
          AND levenshtein(a.c_name, b.c_name) <= 2
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    lab AS (
        SELECT c.*, COALESCE(p.component, c.c_custkey) AS cluster
        FROM customer c LEFT JOIN comp p ON p.node = c.c_custkey
    )
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN({'nl': -len(c_name), 'nm': c_name}).nm AS name,
           MAX(c_acctbal) AS acctbal,
           MAX({'ab': c_acctbal, 'ck': c_custkey,
                'seg': c_mktsegment}).seg AS mktsegment,
           CAST(MIN(c_nationkey) AS INTEGER) AS nationkey
    FROM lab GROUP BY 1
    """,
)
def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD SURVIVORSHIP (the master-data-management step
    after record linkage): per linkage cluster (blocked Levenshtein ≤ 2
    within nation → connected components; singletons survive as their
    own cluster), resolve each attribute by an explicit deterministic
    rule — name = longest-then-lexicographically-smallest (a MIN over
    (-length, name) structs), account balance = MAX, market segment =
    the segment of the highest-balance member (custkey tiebreak, a MAX
    over (acctbal, custkey, segment) structs), nation = MIN.  Struct
    min/max compare fields in declaration order on both engines, so
    every survivorship pick is engine-exact."""
    from map_reduce_folds_spark.operators import linkage as LK

    c = load_table(spark, sf_dir, "customer")
    pairs = LK.blocked_levenshtein_pairs(
        c, "c_custkey", "c_name", ["c_nationkey"], max_dist=2,
        block_cap=100_000)
    comp = G.components_of_pairs(pairs.select("id_a", "id_b"))
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
    return lab.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        name_pick.alias("name"),
        F.max("c_acctbal").alias("acctbal"),
        seg_pick.alias("mktsegment"),
        F.min("c_nationkey").alias("nationkey"))


@query(
    "cuped_value_lift",
    oracle=ES.cuped_adjusted_means_sql(
        """(
        WITH w AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
                   FROM events),
        u AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN epoch_us(ts) < (t0 + t1) // 2
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS pre_cents,
                   CAST(SUM(CASE WHEN epoch_us(ts) >= (t0 + t1) // 2
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS post_cents
            FROM events CROSS JOIN w GROUP BY 1
        ) SELECT * FROM u)""",
        "pre_cents", "post_cents", "user_id % 2"),
)
def cuped_value_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted cohort means (operators/evalstats.
    cuped_adjusted_means): per-user event value split into pre/post
    window halves (integer cents), cohorts by user parity — the
    variance-reduction readout (Deng et al. WSDM'13) an experimentation
    platform runs on every metric: θ from exact pooled integer moments,
    adjusted means as fixed chains, plus the pooled 1−ρ² variance
    reduction."""
    e = load_table(spark, sf_dir, "events")
    w = e.agg(F.min(epoch_us("ts")).alias("t0"),
              F.max(epoch_us("ts")).alias("t1"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    mid = F.expr("(t0 + t1) div 2")
    u = (e.crossJoin(F.broadcast(w))
         .groupBy("user_id")
         .agg(F.sum(F.when(epoch_us("ts") < mid, cents).otherwise(0))
              .cast("bigint").alias("pre_cents"),
              F.sum(F.when(epoch_us("ts") >= mid, cents).otherwise(0))
              .cast("bigint").alias("post_cents")))
    return ES.cuped_adjusted_means(
        u.withColumn("cohort", F.col("user_id") % 2),
        "pre_cents", "post_cents", "cohort")


@query(
    "did_value_lift",
    oracle=ES.diff_in_diff_sql(
        """(
        WITH w AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
                   FROM events),
        u AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN epoch_us(ts) < (t0 + t1) // 2
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS pre_cents,
                   CAST(SUM(CASE WHEN epoch_us(ts) >= (t0 + t1) // 2
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS post_cents
            FROM events CROSS JOIN w GROUP BY 1
        ) SELECT * FROM u)""",
        "pre_cents", "post_cents", "user_id % 2"),
)
def did_value_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES on per-user event value (operators/
    evalstats.diff_in_diff): the parallel-trends treatment-effect
    estimate over the same pre/post cents panel as cuped_value_lift —
    the two standard experimentation readouts side by side (CUPED
    reduces variance; DiD removes pre-existing level differences)."""
    e = load_table(spark, sf_dir, "events")
    w = e.agg(F.min(epoch_us("ts")).alias("t0"),
              F.max(epoch_us("ts")).alias("t1"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    mid = F.expr("(t0 + t1) div 2")
    u = (e.crossJoin(F.broadcast(w))
         .groupBy("user_id")
         .agg(F.sum(F.when(epoch_us("ts") < mid, cents).otherwise(0))
              .cast("bigint").alias("pre_cents"),
              F.sum(F.when(epoch_us("ts") >= mid, cents).otherwise(0))
              .cast("bigint").alias("post_cents")))
    return ES.diff_in_diff(
        u.withColumn("cohort", F.col("user_id") % 2),
        "pre_cents", "post_cents", "cohort")
