"""Core engine tests — ports of the reference's own fixtures.

* readme example (reference examples/readmeExample.hs:26-28): ints 1..10,
  filter even, key by (x mod 3 == 0), sum → {False: 24, True: 6}.
* ListStats (examples/ListStats.hs:36-50,72-80): applicative reduce fusion,
  melt (x -> [x, 2x]).
* Test1 property (test/Test1.hs:27-57): random ints vs a direct oracle.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark import (
    Assign, Filter, FoldReduce, GroupReduce, Keep, MapReduce, Melt, folds,
)
from map_reduce_folds_spark.core import MapInPandas, Transform, concat


@pytest.fixture(scope="module")
def ints10(spark):
    return spark.range(1, 11).withColumnRenamed("id", "x")


def as_dict(df, key="k", val=None):
    rows = df.collect()
    if val is None:
        val = [c for c in df.columns if c != key]
        if len(val) == 1:
            val = val[0]
        else:
            return {tuple(r[k] for k in ([key] if isinstance(key, str) else key)): r for r in rows}
    return {r[key]: r[val] for r in rows}


def test_readme_example(ints10):
    mr = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    out = as_dict(mr.run(ints10), val="s")
    # golden output from examples/readmeExample.hs comments:
    assert out == {False: 24, True: 6}


def test_applicative_reduce_single_agg(ints10):
    """N folds -> ONE .agg (Core.hs:211-218). Plan must contain exactly one
    Aggregate."""
    mr = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=FoldReduce({
            "s": folds.sum_("v", dtype="bigint"),
            "m": folds.mean_("v"),
            "n": folds.count_(),
        }),
    )
    res = mr.run(ints10)
    got = {r["k"]: (r["s"], r["m"], r["n"]) for r in res.collect()}
    assert got == {False: (24, 6.0, 4), True: (6, 6.0, 1)}
    # single shuffle: one Aggregate pair (partial+final) in the plan
    plan = res._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Exchange") == 1


def test_melt(ints10):
    """ListStats.hs:12-15 — andTwice x = [x, 2x]; sum per key over melted."""
    mr = MapReduce(
        unpack=Melt(F.array(F.col("x"), F.col("x") * 2), alias="y"),
        assign=Assign(keys={"k": F.col("y") % 3 == 0}, values={"v": "y"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    out = as_dict(mr.run(ints10), val="s")
    # oracle: ints 1..10 and their doubles
    vals = list(range(1, 11)) + [2 * x for x in range(1, 11)]
    exp = {
        True: sum(v for v in vals if v % 3 == 0),
        False: sum(v for v in vals if v % 3 != 0),
    }
    assert out == exp


def test_transform_unpack(ints10):
    mr = MapReduce(
        unpack=Transform({"y": F.col("x") * 10}),
        assign=Assign(keys={"k": F.lit(1)}, values={"v": "y"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    assert mr.run(ints10).collect()[0]["s"] == 550


def test_unpack_only(ints10):
    mr = MapReduce(unpack=Filter("x % 2 = 0"))
    got = sorted(r["x"] for r in mr.run(ints10).collect())
    assert got == [2, 4, 6, 8, 10]


def test_mapinpandas_unpack(ints10):
    """UnpackM (Core.hs:121-122): python-side melt dropping odd rows and
    duplicating even ones."""

    def melt(batches):
        for pdf in batches:
            ev = pdf[pdf.x % 2 == 0]
            yield pd.concat([ev, ev.assign(x=ev.x * 2)])

    mr = MapReduce(
        unpack=MapInPandas(melt, schema="x bigint"),
        assign=Assign(keys={"k": F.lit(True)}, values={"v": "x"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    assert mr.run(ints10).collect()[0]["s"] == 30 + 60


def test_custom_fold_pandas_path(ints10):
    """Non-compilable fold → whole-group pandas fallback; mixes with builtins."""
    sum_sq = folds.fold_from_pandas(lambda p: float((p["v"] ** 2).sum()), dtype="double")
    mr = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=FoldReduce({"ss": sum_sq, "n": folds.count_()}),
    )
    got = {r["k"]: (r["ss"], r["n"]) for r in mr.run(ints10).collect()}
    assert got == {False: (4.0 + 16 + 64 + 100, 4), True: (36.0, 1)}


def test_custom_fold_steps(ints10):
    """fold_from_steps — row-at-a-time FL.Fold step/init/extract."""
    f = folds.fold_from_steps(step=lambda a, x: a + x, init=lambda: 0,
                              extract=float, dtype="double")
    mr = MapReduce(
        assign=Assign(keys={"k": F.lit(1)}, values={"v": "x"}),
        reduce=FoldReduce({"s": f}),
    )
    assert mr.run(ints10).collect()[0]["s"] == 55.0


def test_group_reduce_key_in_scope(ints10):
    """Reduce.Reduce with key access (Core.hs:180): key-dependent fold."""

    def fn(key, pdf):
        (k,) = key
        agg = float(pdf.v.sum()) if k else float(pdf.v.mean())
        return pd.DataFrame([{"k": k, "r": agg}])

    mr = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=GroupReduce(fn, schema="k boolean, r double"),
    )
    out = as_dict(mr.run(ints10), val="r")
    assert out == {True: 6.0, False: (2 + 4 + 8 + 10) / 4}


def test_concat(ints10):
    """concatFold (Simple.hs:156-162): merge per-group results globally."""
    mr = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    total = concat(mr.run(ints10), {"t": folds.sum_("s", dtype="bigint")})
    assert total.collect()[0]["t"] == 30


def test_property_vs_oracle(spark):
    """Test1.hs:27-57 differential property: filter even, key x%3==0, sum —
    random lists vs direct python oracle."""
    import random

    rng = random.Random(42)
    for trial in range(5):
        xs = [rng.randint(0, 10000) for _ in range(rng.randint(0, 100))]
        direct: dict[bool, int] = {}
        for x in xs:
            if x % 2 == 0:
                direct[x % 3 == 0] = direct.get(x % 3 == 0, 0) + x
        df = spark.createDataFrame([(x,) for x in xs], "x bigint") if xs else \
            spark.createDataFrame([], "x bigint")
        mr = MapReduce(
            unpack=Filter("x % 2 = 0"),
            assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
            reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
        )
        assert as_dict(mr.run(df), val="s") == direct


def test_merge_path_distributed_custom_fold(spark):
    """CustomFold with merge → two-stage partial aggregation (the shuffle
    carries states, not rows)."""
    from map_reduce_folds_spark.core import Assign, FoldReduce, MapReduce

    df = spark.range(1, 1001).withColumnRenamed("id", "x").repartition(8)
    ssq = folds.fold_from_steps(
        step=lambda acc, x: acc + x * x,
        init=lambda: 0,
        extract=float,
        merge=lambda a, b: a + b,
        dtype="double",
    )
    mr = MapReduce(
        assign=Assign(keys={"k": F.col("x") % 3}, values={"v": "x"}),
        reduce=FoldReduce({"ssq": ssq}),
    )
    got = {r["k"]: r["ssq"] for r in mr.run(df).collect()}
    exp: dict[int, float] = {}
    for x in range(1, 1001):
        exp[x % 3] = exp.get(x % 3, 0) + x * x
    assert got == {k: float(v) for k, v in exp.items()}
    # the plan's shuffle input is the partial-state stream, not raw rows:
    # one key Exchange, fed by the partial fold, read by the merge
    plan = mr.run(df)._jdf.queryExecution().executedPlan().toString()
    nodes = [ln.lstrip(" :+-") for ln in plan.splitlines()]
    ex = [i for i, n in enumerate(nodes) if n.startswith("Exchange hashpartitioning")]
    assert len(ex) == 1, plan
    assert nodes[ex[0]].startswith("Exchange hashpartitioning(k#"), plan
    assert nodes[ex[0] + 1].startswith("MapInPandas partial("), plan
    assert any(n.startswith("MapInArrow") for n in nodes[:ex[0]]), plan


def test_assign_udf(spark):
    """AssignM (Core.hs:156-157): python-computed key/value."""
    from map_reduce_folds_spark.core import AssignUDF, FoldReduce, MapReduce

    df = spark.range(1, 11).withColumnRenamed("id", "x")

    def assign(pdf):
        return pd.DataFrame({"k": pdf.x % 2 == 0, "v": pdf.x * 10})

    mr = MapReduce(
        assign=AssignUDF(assign, schema="k boolean, v bigint",
                         keys=["k"], values=["v"]),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    out = {r["k"]: r["s"] for r in mr.run(df).collect()}
    assert out == {True: 300, False: 250}


def test_assign_contramap(ints10):
    """Profunctor lmap on Assign (Core.hs:147-153)."""
    base = Assign(keys={"k": F.col("y") % 2 == 0}, values={"v": "y"})
    pre = base.contramap({"y": F.col("x") * 3})
    mr = MapReduce(assign=pre,
                   reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}))
    out = {r["k"]: r["s"] for r in mr.run(ints10).collect()}
    # y = 3x for x in 1..10 → evens are y ∈ {6,12,18,24,30} sum=90; odds sum 75
    assert out == {True: 90, False: 75}


def test_shared_scan_applicative_folds(spark, ints10):
    """Fold-level applicative (ListStats.hs:36): N pipelines over one cached
    scan — results equal independent runs."""
    from map_reduce_folds_spark.core import shared_scan

    sums = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint")}),
    )
    means = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={"k": F.col("x") % 3 == 0}, values={"v": "x"}),
        reduce=FoldReduce({"m": folds.mean_("v")}),
    )
    rs, rm = shared_scan(ints10, sums, means)
    assert {r["k"]: r["s"] for r in rs.collect()} == {False: 24, True: 6}
    assert {r["k"]: r["m"] for r in rm.collect()} == {False: 6.0, True: 6.0}
    assert ints10.is_cached
    ints10.unpersist()


def test_global_reduce_zero_keys(ints10):
    """Assign with no keys -> global aggregation (groupBy() with no cols)."""
    mr = MapReduce(
        unpack=Filter("x % 2 = 0"),
        assign=Assign(keys={}, values={"v": "x"}),
        reduce=FoldReduce({"s": folds.sum_("v", dtype="bigint"),
                           "n": folds.count_()}),
    )
    row = mr.run(ints10).collect()[0]
    assert (row["s"], row["n"]) == (30, 5)


def test_first_by_last_by(spark):
    df = spark.createDataFrame(
        [("a", 3, "x3"), ("a", 1, "x1"), ("a", 2, "x2"), ("b", 9, "y9")],
        "k string, ord bigint, v string",
    ).repartition(4)
    mr = MapReduce(
        assign=Assign(keys={"k": "k"}, values={"v": "v", "ord": "ord"}),
        reduce=FoldReduce({
            "f": folds.first_by("v", "ord", dtype="string"),
            "l": folds.last_by("v", "ord", dtype="string"),
        }),
    )
    got = {r["k"]: (r["f"], r["l"]) for r in mr.run(df).collect()}
    assert got == {"a": ("x1", "x3"), "b": ("y9", "y9")}


def test_collect_list_by_ordered(spark):
    df = spark.createDataFrame(
        [("a", 3, 30.0), ("a", 1, 10.0), ("a", 2, 20.0), ("b", 5, 50.0)],
        "k string, ord bigint, v double",
    ).repartition(4)
    mr = MapReduce(
        assign=Assign(keys={"k": "k"}, values={"v": "v", "ord": "ord"}),
        reduce=FoldReduce({"vs": folds.collect_list_by("v", "ord")}),
    )
    got = {r["k"]: list(r["vs"]) for r in mr.run(df).collect()}
    assert got == {"a": [10.0, 20.0, 30.0], "b": [50.0]}


def test_group_reduce_order_by(spark):
    import pandas as pd

    from map_reduce_folds_spark.core import GroupReduce

    df = spark.createDataFrame(
        [("a", 3, "z"), ("a", 1, "x"), ("a", 2, "y")],
        "k string, ord bigint, v string",
    ).repartition(3)

    def fn(key, pdf):
        return pd.DataFrame([{"k": key[0], "joined": "".join(pdf.v)}])

    mr = MapReduce(
        assign=Assign(keys={"k": "k"}, values={"v": "v", "ord": "ord"}),
        reduce=GroupReduce(fn, schema="k string, joined string",
                           order_by=["ord"]),
    )
    assert mr.run(df).collect()[0]["joined"] == "xyz"


def test_salted_join_equals_plain_join(spark):
    """salted_join must be value-identical to the plain inner join."""
    import random

    from map_reduce_folds_spark.operators.skew import salted_join

    rng = random.Random(7)
    left = spark.createDataFrame(
        [("k%d" % rng.randint(0, 2), i, rng.random()) for i in range(2000)],
        "key string, i bigint, x double",
    ).repartition(8)
    right = spark.createDataFrame(
        [("k0", "L0"), ("k1", "L1"), ("k2", "L2"), ("k3", "unmatched")],
        "key string, label string",
    )
    plain = {(r.key, r.i, r.label) for r in left.join(right, "key").collect()}
    salted = {(r.key, r.i, r.label)
              for r in salted_join(left, right, "key", salt_buckets=8).collect()}
    assert salted == plain
