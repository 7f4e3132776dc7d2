"""Differential tests: the batched Arrow group-map behind ``GroupReduce``
and the two ``FoldReduce`` pandas paths against PySpark's own
``groupBy().applyInPandas``, the reference for what a per-group function
sees (key tuple, frame, dtypes, values) and for the rows it returns.

Each case builds the same public pipeline twice: once as shipped, once
with ``core._grouped_map`` swapped for a plain ``applyInPandas`` call.
The group functions return what they saw as a string, so comparing the
two results compares both the inputs and the outputs."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import sys

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from map_reduce_folds_spark import core, folds
from map_reduce_folds_spark.core import (
    Assign, FoldReduce, GroupReduce, MapReduce)

BIG = 2 ** 53 + 1  # not representable as float64

# the group functions below call this module's helpers inside Python
# workers, which cannot import the tests package: ship them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

SCHEMA = "k bigint, s string, b boolean, v bigint, ts timestamp, x double"


def _rows():
    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # one group spanning many 7-row Arrow batches, with nulls inside
    for i in range(60):
        rows.append((1, None if i % 11 == 0 else f"s{i % 4}",
                     None if i % 13 == 0 else i % 2 == 0,
                     None if i % 17 == 0 else BIG + i,
                     t0 + dt.timedelta(seconds=i), float(i)))
    # null key
    for i in range(5):
        rows.append((None, f"n{i}", True, BIG + 100 + i,
                     t0 + dt.timedelta(hours=i), 100.0 + i))
    # a key above 2^53 whose group holds no nulls: must stay int64/bool
    for i in range(4):
        rows.append((BIG, "big", False, BIG + 200 + i,
                     t0 + dt.timedelta(days=i), 200.0 + i))
    # many small groups, some with nulls
    for g in range(2, 30):
        for i in range(g % 4 + 1):
            rows.append((g, None if (g + i) % 5 == 0 else f"g{g}",
                         None if (g * i) % 7 == 3 else bool(i % 2),
                         None if (g + i) % 6 == 0 else BIG * (i + 1) % 2 ** 62,
                         t0 + dt.timedelta(minutes=g * 10 + i),
                         300.0 + g * 10 + i))
    return rows


@pytest.fixture(scope="module")
def adv(spark):
    return spark.createDataFrame(_rows(), SCHEMA).repartition(3)


@contextlib.contextmanager
def _small_batches(spark, n=7):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _typed(x):
    return (type(x).__name__, repr(x))


def _seen(keys, pdf, ordered=False):
    """What a group function sees, as one comparable string: key values and
    types, column labels, dtypes, index and every cell with its type.  Rows
    arrive in shuffle order, so unordered groups compare as sorted cells;
    a sorted group's index is a permutation that tells the arrival order,
    so it compares as a sorted index."""
    cells = [tuple(_typed(x) for x in row)
             for row in zip(*[pdf[c].to_numpy() for c in pdf.columns])]
    if not ordered:
        cells.sort()
    index = repr(sorted(pdf.index)) if ordered else repr(pdf.index)
    return json.dumps([
        [_typed(k) for k in keys], [str(c) for c in pdf.columns],
        [str(d) for d in pdf.dtypes], index, cells])


def _apply_in_pandas(df, key_names, fn, schema):
    """The reference reduce stage: one ``applyInPandas`` call, a row
    returned as a dict wrapped in a one-row frame."""
    def run(keys, pdf):
        out = fn(keys, pdf)
        return pd.DataFrame([out]) if isinstance(out, dict) else out

    return df.groupBy(*key_names).applyInPandas(run, schema=schema)


def _check(spark, monkeypatch, build):
    """Collect ``build()`` through the batched group-map and through the
    reference, with 7-row Arrow batches so groups straddle batches; assert
    equal rows and return them."""
    got = build()
    with monkeypatch.context() as m:
        m.setattr(core, "_grouped_map", _apply_in_pandas)
        ref = build()
    assert "MapInArrow" in got._jdf.queryExecution().executedPlan().toString()
    with _small_batches(spark):
        g = sorted(got.collect(), key=repr)
        r = sorted(ref.collect(), key=repr)
    assert g == r
    return g


def test_group_reduce_matches_apply_in_pandas(spark, adv, monkeypatch):
    def fn(keys, pdf):
        return pd.DataFrame([{"k": keys[0], "n": len(pdf),
                              "seen": _seen(keys, pdf)}])

    rows = _check(spark, monkeypatch, lambda: GroupReduce(
        fn, schema="k bigint, n bigint, seen string").apply(adv, ["k"]))
    assert len(rows) == 31
    seen = {r["k"]: json.loads(r["seen"]) for r in rows}
    assert {r["k"]: r["n"] for r in rows}[1] == 60  # spans 9+ batches
    # a null key arrives as NaN; a key above 2^53 as an exact int64 whose
    # null-free group keeps int64/bool dtypes although its batch has nulls
    assert seen[None][0] == [["float64", "nan"]]
    assert seen[BIG][0] == [["int64", repr(BIG)]]
    assert seen[BIG][2][0] == "int64" and seen[BIG][2][2] == "bool"
    assert seen[1][2][3] == "float64"  # the group holding a null v


def test_group_reduce_two_keys_ordered(spark, adv, monkeypatch):
    def fn(keys, pdf):
        return pd.DataFrame([{"k": keys[0], "s": keys[1],
                              "seen": _seen(keys, pdf, ordered=True)}])

    _check(spark, monkeypatch, lambda: GroupReduce(
        fn, schema="k bigint, s string, seen string",
        order_by=["x"]).apply(adv, ["k", "s"]))


def test_fold_reduce_pandas_path_matches(spark, adv, monkeypatch):
    seen = folds.fold_from_pandas(lambda p: _seen((), p), dtype="string")
    fr = FoldReduce({"seen": seen, "prod": folds.product_("x"),
                     "n": folds.count_()})
    kv = adv.select("k", "x", "s", "b", "v", "ts")  # product_ folds x
    assert len(_check(spark, monkeypatch,
                      lambda: fr.apply(kv, ["k"]))) == 31


def test_merge_path_matches(spark, adv, monkeypatch):
    def step(acc, row):
        _, _, _, x = row
        return [acc[0] + 1, acc[1] + x]

    sums = folds.fold_from_steps(
        step=step, init=lambda: [0, 0.0],
        extract=lambda a: f"{a[0]}:{a[1]}",
        merge=lambda a, b: [a[0] + b[0], a[1] + b[1]], dtype="string")
    # a bigint result that is null for some groups and above 2^53 for others
    big = folds.fold_from_steps(
        step=lambda a, r: a + 1, init=lambda: 0,
        extract=lambda a: None if a % 2 else BIG + a,
        merge=lambda a, b: a + b, dtype="bigint")
    kv = adv.select("k", "s", "b", "v", "x")
    rows = _check(spark, monkeypatch, lambda: FoldReduce(
        {"m": sums, "big": big}).apply(kv, ["k"]))
    assert {r["big"] for r in rows} >= {None, BIG + 4}


def test_helper_row_dicts_match_frames(spark, adv, monkeypatch):
    """A function returning one row as a dict gives the rows a one-row
    DataFrame gives, null bigints included."""
    def row(keys, pdf):
        return {"k": keys[0], "v": None if len(pdf) % 2 else BIG,
                "seen": _seen(keys, pdf)}

    _check(spark, monkeypatch, lambda: core._grouped_map(
        adv, ["k"], row, "k bigint, v bigint, seen string"))


def test_zero_keys_matches(spark, adv, monkeypatch):
    def fn(keys, pdf):
        return pd.DataFrame([{"n": len(pdf), "seen": _seen(keys, pdf)}])

    mr = MapReduce(assign=Assign(keys={}, values={"v": "v", "ts": "ts"}),
                   reduce=GroupReduce(fn, schema="n bigint, seen string"))
    assert len(_check(spark, monkeypatch, lambda: mr.run(adv))) == 1
    fr = MapReduce(assign=Assign(keys={}, values={"x": "x", "v": "v"}),
                   reduce=FoldReduce({"p": folds.product_("x"),
                                      "n": folds.count_()}))
    assert len(_check(spark, monkeypatch, lambda: fr.run(adv))) == 1


def test_empty_input_returns_no_rows(spark, adv, monkeypatch):
    kv = adv.where(F.lit(False)).select("k", "x")

    def fn(keys, pdf):
        raise AssertionError("called on an empty input")

    merge_fold = folds.fold_from_steps(
        step=lambda a, x: a + 1, init=lambda: 0, merge=lambda a, b: a + b,
        dtype="bigint")
    for r in (GroupReduce(fn, schema="k bigint"),
              FoldReduce({"p": folds.product_("x")}),
              FoldReduce({"c": merge_fold})):
        assert _check(spark, monkeypatch, lambda: r.apply(kv, ["k"])) == []
        assert _check(spark, monkeypatch,
                      lambda: r.apply(kv.select("x"), [])) == []
