"""Oracle-backed queries for the core operators that round 1 covered only
with unit tests — one passing driver entry per operator (VERDICT r1 item 5).

Covered here, with reference citations:

* ``GroupReduce`` — whole-group fn with the key in scope / key-dependent
  fold (reference src/Control/MapReduce/Core.hs:180-181, ``processAndLabel``
  Simple.hs:126-141) — :func:`mr_group_reduce_keyed`.
* Custom fold with ``merge`` through the two-stage distributed path
  (``functionToFold`` Core.hs:250-259; merge is our extension, SURVEY §4)
  — :func:`mr_custom_fold_merge`.
* ``concatFold`` (Simple.hs:156-162) — :func:`mr_concat_fold`.
* ``unpackOnlyFold`` (Simple.hs:215-222) — :func:`mr_unpack_only`.
* ``UnpackM`` filtering variant (Core.hs:121-122) —
  :func:`mr_filter_mapinpandas`.
* ``first_by`` / ``last_by`` deterministic order-sensitive folds —
  :func:`mr_first_last_by`.
* ``product`` fold + multi-fold pandas reduce (Applicative ReduceM,
  Core.hs:211-218 on the effectful path) — :func:`mr_product_median`.
* Applicative FOLD sharing one scan (ListStats.hs:36) —
  :func:`mr_shared_scan`.
* ``simpleUnpack`` 1→1 transform (Simple.hs:91-93) —
  :func:`mr_simple_unpack`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_folds_spark import folds
from map_reduce_folds_spark.core import (
    Assign, Filter, FoldReduce, GroupReduce, MapInPandas, MapReduce, Melt,
    Transform, concat, shared_scan,
)
from map_reduce_folds_spark.queries.registry import query
from map_reduce_folds_spark.sources import load_table


@query(
    "mr_group_reduce_keyed",
    oracle="""
    SELECT l_returnflag AS k,
           COUNT(*) AS n,
           CAST(CASE WHEN l_returnflag = 'A'
                     THEN 2 * SUM(CAST(l_quantity AS BIGINT))
                     ELSE SUM(CAST(l_quantity AS BIGINT)) END AS BIGINT) AS wsum
    FROM lineitem GROUP BY 1
    """,
)
def mr_group_reduce_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupReduce with the KEY in scope (Core.hs:180-181): the fold applied
    to each group depends on the group's key — flag 'A' doubles the sum."""
    li = load_table(spark, sf_dir, "lineitem")

    def per_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        w = 2 if key[0] == "A" else 1
        return pd.DataFrame([{
            "k": key[0], "n": len(pdf), "wsum": w * int(pdf.v.sum()),
        }])

    mr = MapReduce(
        assign=Assign(keys={"k": "l_returnflag"},
                      values={"v": F.col("l_quantity").cast("bigint")}),
        reduce=GroupReduce(per_group, schema="k string, n bigint, wsum bigint"),
    )
    return mr.run(li)


@query(
    "mr_custom_fold_merge",
    oracle="""
    SELECT l_returnflag AS k,
           CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                AS BIGINT) AS ssq,
           CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mx
    FROM lineitem GROUP BY 1
    """,
)
def mr_custom_fold_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom (step, init, extract, merge) folds through the TWO-STAGE
    distributed path (core.FoldReduce._merge_path): partition-local Python
    fold → shuffle (key, state) only → per-key merge.  The map-side combine
    the reference's foldl folds cannot do (SURVEY §4)."""
    li = load_table(spark, sf_dir, "lineitem")
    ssq = folds.fold_from_steps(
        step=lambda a, x: a + x * x, init=lambda: 0,
        merge=lambda a, b: a + b, dtype="bigint",
    )
    mx = folds.fold_from_steps(
        step=lambda a, x: x if x > a else a, init=lambda: 0,
        merge=lambda a, b: b if b > a else a, dtype="bigint",
    )
    mr = MapReduce(
        assign=Assign(keys={"k": "l_returnflag"},
                      values={"v": F.col("l_quantity").cast("bigint")}),
        reduce=FoldReduce({"ssq": ssq, "mx": mx}),
    )
    return mr.run(li)


@query(
    "mr_concat_fold",
    oracle="""
    SELECT SUM(sum_q) AS total_q, COUNT(*) AS n_groups
    FROM (
        SELECT l_returnflag, SUM(l_quantity) AS sum_q
        FROM lineitem GROUP BY 1
    )
    """,
)
def mr_concat_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concatFold (Simple.hs:156-162): mappend all per-group results into
    one global row — a second fold over the group-result frame.  Values are
    integer-valued doubles, so the re-aggregation is order-insensitive."""
    li = load_table(spark, sf_dir, "lineitem")
    mr = MapReduce(
        assign=Assign(keys={"k": "l_returnflag"}, values={"v": "l_quantity"}),
        reduce=FoldReduce({"sum_q": folds.sum_("v")}),
    )
    per_group = mr.run(li)
    return concat(per_group, {
        "total_q": folds.sum_("sum_q"),
        "n_groups": folds.count_(),
    })


@query(
    "mr_unpack_only",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity AS y FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 2 * l_quantity AS y FROM lineitem
    """,
)
def mr_unpack_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpackOnlyFold (Simple.hs:215-222): run JUST the unpack — the melt
    emits the full row stream with no grouping stage at all."""
    li = load_table(spark, sf_dir, "lineitem")
    mr = MapReduce(
        unpack=Melt(
            F.array(F.col("l_quantity"), F.col("l_quantity") * 2),
            alias="y", keep=("l_orderkey", "l_linenumber"),
        ),
    )
    return mr.unpack_only(li)


@query(
    "mr_filter_mapinpandas",
    oracle="""
    SELECT l_returnflag AS k, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q
    FROM lineitem
    WHERE (l_partkey * 2654435761) % 4294967296 % 10 < 3
    GROUP BY 1
    """,
)
def mr_filter_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UnpackM as a FILTER (Core.hs:121-122): the keep-predicate is
    arbitrary Python over Arrow batches (Knuth-hash bucket < 3, so the
    oracle can mirror the arithmetic exactly)."""
    li = load_table(spark, sf_dir, "lineitem")

    def keep(batches):
        for pdf in batches:
            mask = (pdf.l_partkey * 2654435761) % (2 ** 32) % 10 < 3
            yield pdf[mask]

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in load_table(spark, sf_dir, "lineitem").schema.fields)
    mr = MapReduce(
        unpack=MapInPandas(keep, schema=schema),
        assign=Assign(keys={"k": "l_returnflag"},
                      values={"v": F.col("l_quantity").cast("bigint")}),
        reduce=FoldReduce({
            "n": folds.count_(),
            "sum_q": folds.sum_("v", dtype="bigint"),
        }),
    )
    return mr.run(li)


@query(
    "mr_first_last_by",
    oracle="""
    SELECT l_returnflag AS k,
           min_by(l_quantity,
                  (l_orderkey * 10 + l_linenumber) * 64
                  + CAST(l_quantity AS BIGINT)) AS first_q,
           max_by(l_quantity,
                  (l_orderkey * 10 + l_linenumber) * 64
                  + CAST(l_quantity AS BIGINT)) AS last_q
    FROM lineitem GROUP BY 1
    """,
)
def mr_first_last_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic order-sensitive folds: first/last BY an explicit
    ordering (min_by/max_by) — the engine's answer to the reference's
    encounter-order folds (Engines/List.hs:70-79), whose order Spark's
    shuffle does not preserve.  The fixture's (orderkey, linenumber) is NOT
    unique, so the ordering packs the value itself into the low bits
    (quantity ≤ 50 < 64): any residual tie then implies an equal result —
    well-defined in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    ordc = (
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 64
        + F.col("l_quantity").cast("bigint")
    )
    mr = MapReduce(
        assign=Assign(
            keys={"k": "l_returnflag"},
            values={"v": "l_quantity", "ord": ordc},
        ),
        reduce=FoldReduce({
            "first_q": folds.first_by("v", "ord"),
            "last_q": folds.last_by("v", "ord"),
        }),
    )
    return mr.run(li)


@query(
    "mr_product_median",
    oracle="""
    SELECT l_orderkey AS k,
           product(CAST(l_quantity AS DOUBLE)) AS prod_q,
           median(CAST(l_quantity AS BIGINT)) AS med_q
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    GROUP BY 1
    """,
)
def mr_product_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product fold + vectorized pandas fold, BOTH in one reduce — the
    applicative composition on the effectful path (Applicative ReduceM,
    Core.hs:211-218): two non-Catalyst folds share one whole-group pass.
    Per-order groups are ≤7 rows of values ≤50, so the double product
    (≤50⁷ < 2⁵³) and the median are exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter("l_orderkey % 20 = 0")
    med = folds.fold_from_pandas(
        lambda p: float(p[p.columns[0]].median()), dtype="double"
    )
    mr = MapReduce(
        assign=Assign(keys={"k": "l_orderkey"},
                      values={"v": F.col("l_quantity").cast("double")}),
        reduce=FoldReduce({"prod_q": folds.product_("v"), "med_q": med}),
    )
    return mr.run(li)


@query(
    "mr_shared_scan",
    oracle="""
    SELECT l_returnflag AS k,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
           SUM(l_quantity) / COUNT(*) AS mean_q
    FROM lineitem GROUP BY 1
    """,
)
def mr_shared_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applicative FOLD composition over ONE input frame (ListStats.hs:36:
    ``(,) <$> sumsF <*> meansF``): two independent pipelines share the
    input, results joined back on the key."""
    li = load_table(spark, sf_dir, "lineitem")
    sums = MapReduce(
        assign=Assign(keys={"k": "l_returnflag"},
                      values={"v": F.col("l_quantity").cast("bigint")}),
        reduce=FoldReduce({"sum_q": folds.sum_("v", dtype="bigint")}),
    )
    means = MapReduce(
        assign=Assign(keys={"k": "l_returnflag"}, values={"v": "l_quantity"}),
        reduce=FoldReduce({
            "mean_q": folds.Fold.zip(folds.sum_("v"), folds.count_(),
                                     combine=lambda s, n: s / n),
        }),
    )
    df_sums, df_means = shared_scan(li, sums, means)
    return df_sums.join(df_means, "k")


_ORD_SQL = "(l_orderkey * 10 + l_linenumber) * 64 + CAST(l_quantity AS BIGINT)"


@query(
    "mr_ordered_collect",
    oracle=f"""
    SELECT l_returnflag AS k1, l_orderkey % 100 AS k2,
           array_to_string(list(CAST(l_quantity AS BIGINT)
                                ORDER BY {_ORD_SQL}), ',') AS qs
    FROM lineitem GROUP BY 1, 2
    """,
)
def mr_ordered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-internal ENCOUNTER ORDER, opt-in (reference Engines/List.hs:
    70-79 ``Seq c``): collect the group's values sorted by an explicit
    order key (folds.collect_list_by).  The order key packs the value into
    its low bits, so order-key ties imply equal output — deterministic in
    both engines.  Emitted as a joined string (driver canonicalizer cannot
    hash arrays)."""
    li = load_table(spark, sf_dir, "lineitem")
    ordc = (
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 64
        + F.col("l_quantity").cast("bigint")
    )
    ordered = folds.collect_list_by("v", "ord", dtype="array<bigint>").map(
        lambda c: F.array_join(F.transform(c, lambda x: x.cast("string")), ",")
    )
    mr = MapReduce(
        assign=Assign(
            keys={"k1": "l_returnflag", "k2": F.col("l_orderkey") % 100},
            values={"v": F.col("l_quantity").cast("bigint"), "ord": ordc},
        ),
        reduce=FoldReduce({"qs": ordered}),
    )
    return mr.run(li)


@query(
    "mr_group_reduce_ordered",
    oracle=f"""
    SELECT l_returnflag AS k1, l_orderkey % 100 AS k2,
           array_to_string(list(CAST(l_quantity AS BIGINT)
                                ORDER BY {_ORD_SQL})[1:3], ',') AS first3,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def mr_group_reduce_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupReduce with ``order_by``: the whole-group Python fn sees rows
    in explicit encounter order (the ordered Reduce.Reduce variant) —
    here, the first 3 values per group in that order."""
    li = load_table(spark, sf_dir, "lineitem")
    ordc = (
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 64
        + F.col("l_quantity").cast("bigint")
    )

    def per_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([{
            "k1": key[0], "k2": key[1],
            "first3": ",".join(str(v) for v in pdf.v.head(3)),
            "n": len(pdf),
        }])

    mr = MapReduce(
        assign=Assign(
            keys={"k1": "l_returnflag", "k2": F.col("l_orderkey") % 100},
            values={"v": F.col("l_quantity").cast("bigint"), "ord": ordc},
        ),
        reduce=GroupReduce(per_group,
                           schema="k1 string, k2 bigint, first3 string, n bigint",
                           order_by=["ord"]),
    )
    return mr.run(li)


@query(
    "mr_simple_unpack",
    oracle="""
    SELECT l_returnflag AS k, SUM(2 * l_quantity) AS sum2, COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def mr_simple_unpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simpleUnpack (Simple.hs:91-93): a 1→1 row transform replaces the row
    shape before assign/reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    mr = MapReduce(
        unpack=Transform({"flag": "l_returnflag",
                          "q2": F.col("l_quantity") * 2}),
        assign=Assign(keys={"k": "flag"}, values={"v": "q2"}),
        reduce=FoldReduce({"sum2": folds.sum_("v"), "n": folds.count_()}),
    )
    return mr.run(li)
