"""The fold vocabulary — declarative aggregation specs.

Mirrors the ``foldl`` fold algebra the reference builds on
(reference SURVEY §2.6; ``Control.Foldl`` usage at reference
examples/ListStats.hs:24-26, test/Test1.hs:36, bench/MapReduce.hs:64,306):
sum / mean / count / min / max / variance / std / collect / first / last /
any / all / product, plus the three combinators that give the algebra its
power:

* ``premap`` — pre-transform the fold's input (``FL.premap`` —
  bench/MapReduce.hs:64)
* ``map`` — post-transform the fold's result (``fmap`` on a Fold —
  test/Test1.hs:36)
* ``zip`` — applicative composition: N folds over ONE pass / ONE grouping
  (``(,) <$> f1 <*> f2`` — examples/ListStats.hs:39-40, Core.hs:211-218)

Every builtin fold carries two backends:

* ``spark_agg`` — a Catalyst aggregate expression (JVM-side, whole-stage
  codegen, map-side partial aggregation: the scale path)
* ``pandas_agg`` — a pandas reduction, used only when a fold that Catalyst
  cannot express forces the whole reduce onto the whole-group pandas path
  (``core._grouped_map``: whole groups batched per Arrow batch)

Custom folds (the reference's ``FL.Fold step begin done`` — Streamly.hs:140-141
shows the triple explicitly) are built with :func:`fold_from_steps` (row-at-a-
time, escape hatch) or :func:`fold_from_pandas` (vectorized).  Unlike the
reference, a custom fold may declare ``merge`` so partial (map-side)
aggregation stays possible — see SURVEY §4 "notably absent".
"""

from __future__ import annotations

import functools
from typing import Any, Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _to_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


class Fold:
    """Abstract aggregation-as-a-value.

    A fold consumes the value columns of a group and produces one output
    column.  ``compilable`` is True when it can run as Catalyst aggregate
    expressions (preferred); otherwise the enclosing reduce falls back to
    the whole-group pandas path (``core._grouped_map``) and uses
    :meth:`pandas_agg`.
    """

    #: DDL type of the result, used when the pandas fallback path must build
    #: an output schema.
    dtype: str = "double"
    compilable: bool = True
    #: True for folds whose Catalyst aggregate carries per-group object
    #: state (collect_list/collect_set) — these force ObjectHashAggregate,
    #: which loses whole-stage codegen for the whole .agg.
    object_agg: bool = False
    #: For DISTINCT-rewritable folds (count_distinct): the input column.
    #: Lets the FoldReduce compiler split the fold into a (keys, col)
    #: pre-aggregation instead of riding Catalyst's Expand rewrite — see
    #: core.FoldReduce._catalyst_path.
    distinct_input: Any = None

    def apply_post(self, col: Column) -> Column:
        """Replay any post-map chain on a replacement result column (used
        by the distinct-splitting rewrite)."""
        return col

    # -- Catalyst backend -------------------------------------------------
    def spark_agg(self) -> Column:
        """The aggregate expression (unaliased)."""
        raise NotImplementedError

    # -- pandas backend ---------------------------------------------------
    def pandas_agg(self, pdf) -> Any:
        """Reduce a pandas DataFrame of value columns to a scalar."""
        raise NotImplementedError

    # -- combinators ------------------------------------------------------
    def premap(self, expr: str | Column | Callable) -> "Fold":
        """Pre-transform the input (``FL.premap``)."""
        return _Premap(self, expr)

    def map(self, post: Callable[[Column], Column], pandas_post: Callable | None = None) -> "Fold":
        """Post-transform the result (``fmap`` on a Fold).

        ``post`` must be Column -> Column so the transform stays JVM-side;
        ``pandas_post`` (plain scalar fn) is used on the fallback path and
        defaults to applying ``post``-equivalent is impossible, so it must be
        supplied if the enclosing reduce can fall back.
        """
        return _Postmap(self, post, pandas_post)

    @staticmethod
    def zip(*folds: "Fold", combine: Callable[..., Column] | None = None,
            pandas_combine: Callable | None = None, dtype: str | None = None) -> "Fold":
        """Applicative composition: all folds over one grouping.

        With no ``combine`` the results are packed into a struct; with
        ``combine`` the result is ``combine(r1, r2, ...)`` (Column-level).
        One ``.agg`` call → one shuffle, the reference's key fusion property
        (Core.hs:211-218).
        """
        return _Zip(list(folds), combine, pandas_combine, dtype)


class _Expr(Fold):
    """A builtin fold backed by a Catalyst aggregate expression builder.

    ``make`` optionally accepts a gate: ``make(gate)`` where ``gate`` wraps
    the fold's input expression in ``when(cond, x)`` — this powers
    :func:`filtered` without a second scan."""

    def __init__(self, make: Callable[[], Column], pandas_fn: Callable, dtype: str,
                 object_agg: bool = False):
        self._make = make
        self._pandas = pandas_fn
        self.dtype = dtype
        self.object_agg = object_agg

    def spark_agg(self) -> Column:
        return self._make()

    def spark_agg_filtered(self, cond: Column) -> Column:
        import inspect

        sig = inspect.signature(self._make)
        if len(sig.parameters) >= 1:
            return self._make(lambda c: F.when(cond, c))
        raise TypeError("this builtin fold does not support filtered()")

    def pandas_agg(self, pdf):
        return self._pandas(pdf)


class _Premap(Fold):
    # pandas-path-only: Catalyst premap is expressed by passing the input
    # expression to the fold factory instead (sum_(expr)), so a _Premap in
    # a reduce must route the whole reduce to the pandas path
    compilable = False

    def __init__(self, inner: Fold, expr):
        self._inner = inner
        self._expr = expr
        self.dtype = inner.dtype

    def spark_agg(self) -> Column:
        # premap on the Catalyst path = substitute input expression. Builtin
        # folds close over their own input columns, so premap is expressed by
        # wrapping at construction time instead; reaching here means the
        # fold tree was built inside-out — reject loudly.
        raise TypeError(
            "premap(Column) must wrap the fold input at construction "
            "(pass the expression to the fold factory, e.g. sum_(expr))"
        )

    def pandas_agg(self, pdf):
        out = self._expr(pdf) if callable(self._expr) else pdf[self._expr]
        return self._inner.pandas_agg(out)


class _Postmap(Fold):
    def __init__(self, inner: Fold, post, pandas_post):
        self._inner = inner
        self._post = post
        self._pandas_post = pandas_post
        self.dtype = inner.dtype
        self.compilable = inner.compilable
        self.object_agg = inner.object_agg
        self.distinct_input = inner.distinct_input

    def apply_post(self, col: Column) -> Column:
        return self._post(self._inner.apply_post(col))

    def spark_agg(self) -> Column:
        return self._post(self._inner.spark_agg())

    def pandas_agg(self, pdf):
        r = self._inner.pandas_agg(pdf)
        if self._pandas_post is None:
            raise TypeError("fold.map(...) needs pandas_post on the fallback path")
        return self._pandas_post(r)


class _Zip(Fold):
    def __init__(self, folds: Sequence[Fold], combine, pandas_combine, dtype):
        self._folds = list(folds)
        self._combine = combine
        self._pandas_combine = pandas_combine
        self.compilable = all(f.compilable for f in folds)
        self.object_agg = any(f.object_agg for f in folds)
        self.dtype = dtype or (
            "struct<" + ", ".join(f"_{i}: {f.dtype}" for i, f in enumerate(folds)) + ">"
        )

    def spark_agg(self) -> Column:
        cols = [f.spark_agg() for f in self._folds]
        if self._combine is not None:
            return self._combine(*cols)
        return F.struct(*[c.alias(f"_{i}") for i, c in enumerate(cols)])

    def pandas_agg(self, pdf):
        rs = [f.pandas_agg(pdf) for f in self._folds]
        if self._pandas_combine is not None:
            return self._pandas_combine(*rs)
        return tuple(rs)


class CustomFold(Fold):
    """``FL.Fold step begin done`` (+ optional merge) — the escape hatch.

    Reference: Core.hs:181 (``ReduceFold``), Streamly.hs:140-141 (the
    step/initial/extract triple).  ``merge`` (absent from foldl — the reason
    the reference cannot do map-side combine, SURVEY §4) enables distributed
    partial aggregation via the two-stage path in ``core.FoldReduce``.
    """

    compilable = False

    def __init__(self, step, init, extract=None, merge=None, dtype: str = "double",
                 pandas_fn: Callable | None = None):
        self.step = step
        self.init = init
        self.extract = extract or (lambda acc: acc)
        self.merge = merge
        self.dtype = dtype
        self._pandas_fn = pandas_fn

    def pandas_agg(self, pdf):
        if self._pandas_fn is not None:
            return self._pandas_fn(pdf)
        acc = self.init() if callable(self.init) else self.init
        for row in pdf.itertuples(index=False):
            acc = self.step(acc, row if len(pdf.columns) > 1 else row[0])
        return self.extract(acc)


def fold_from_steps(step, init, extract=None, merge=None, dtype="double") -> CustomFold:
    """Adapt a ``(step, init, extract[, merge])`` triple into a Fold
    (reference ``FL.Fold`` constructor; ``functionToFold`` Core.hs:250-259)."""
    return CustomFold(step, init, extract, merge, dtype)


def fold_from_pandas(fn: Callable, dtype="double") -> CustomFold:
    """Vectorized custom fold: ``fn(pandas.DataFrame) -> scalar``."""
    return CustomFold(step=None, init=None, dtype=dtype, pandas_fn=fn)


# ---------------------------------------------------------------------------
# Builtin vocabulary (SURVEY §2.6). Each factory takes the input column
# (name / Column expression) — this is `premap` fused at construction.
# ---------------------------------------------------------------------------

def _single(pdf):
    # fallback-path helper: the fold's input column (first value column)
    return pdf[pdf.columns[0]]


def sum_(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda g=None: F.sum(g(_to_col(c)) if g else _to_col(c)),
                 lambda p: _single(p).sum(), dtype)


def product_(c: str | Column = "v", dtype="double") -> Fold:
    # no builtin product agg: exp(sum(ln)) breaks on <=0, so use
    # aggregate over collect_list only for small groups; prefer pandas path.
    return CustomFold(
        step=lambda a, x: a * x, init=lambda: 1, dtype=dtype,
        pandas_fn=lambda p: _single(p).prod(),
    )


def mean_(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda g=None: F.avg(g(_to_col(c)) if g else _to_col(c)),
                 lambda p: _single(p).mean(), dtype)


def count_(dtype="bigint") -> Fold:
    return _Expr(lambda g=None: F.count(g(F.lit(1)) if g else F.lit(1)),
                 lambda p: len(p), dtype)


def count_col(c: str | Column, dtype="bigint") -> Fold:
    return _Expr(lambda: F.count(_to_col(c)), lambda p: _single(p).count(), dtype)


def count_distinct(c: str | Column, dtype="bigint") -> Fold:
    f = _Expr(lambda: F.countDistinct(_to_col(c)), lambda p: _single(p).nunique(), dtype)
    f.distinct_input = c
    return f


def min_(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda g=None: F.min(g(_to_col(c)) if g else _to_col(c)),
                 lambda p: _single(p).min(), dtype)


def max_(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda g=None: F.max(g(_to_col(c)) if g else _to_col(c)),
                 lambda p: _single(p).max(), dtype)


def variance(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda: F.var_samp(_to_col(c)), lambda p: _single(p).var(), dtype)


def stddev(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda: F.stddev_samp(_to_col(c)), lambda p: _single(p).std(), dtype)


def first_(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda: F.first(_to_col(c)), lambda p: _single(p).iloc[0], dtype)


def last_(c: str | Column = "v", dtype="double") -> Fold:
    return _Expr(lambda: F.last(_to_col(c)), lambda p: _single(p).iloc[-1], dtype)


def any_(c: str | Column = "v") -> Fold:
    return _Expr(lambda: F.max(_to_col(c).cast("boolean")), lambda p: bool(_single(p).any()), "boolean")


def all_(c: str | Column = "v") -> Fold:
    return _Expr(lambda: F.min(_to_col(c).cast("boolean")), lambda p: bool(_single(p).all()), "boolean")


def collect_list(c: str | Column = "v", dtype="array<double>") -> Fold:
    """``FL.list`` (Simple.hs:216). NOTE: order after a shuffle is
    unspecified, exactly like the reference's hashed grouping output order —
    sort the result if order matters."""
    return _Expr(lambda: F.collect_list(_to_col(c)), lambda p: list(_single(p)), dtype,
                 object_agg=True)


def collect_set(c: str | Column = "v", dtype="array<double>") -> Fold:
    return _Expr(lambda: F.collect_set(_to_col(c)), lambda p: sorted(set(_single(p))), dtype,
                 object_agg=True)


class _Filtered(Fold):
    def __init__(self, inner: Fold, cond: Column, pandas_cond=None):
        self._inner = inner
        self._cond = cond
        self._pandas_cond = pandas_cond
        self.dtype = inner.dtype
        self.compilable = inner.compilable
        self.object_agg = inner.object_agg
        # NOT propagating distinct_input: a filtered count_distinct must
        # ride the single-agg plan (the split's pre-aggregation would need
        # the gate folded in; correct but not worth the surface)

    def spark_agg(self) -> Column:
        # rewrite the inner agg over rows satisfying cond: builtin
        # aggregates ignore NULLs, so gate the input expression with when()
        inner = self._inner
        if isinstance(inner, _Expr):
            return inner.spark_agg_filtered(self._cond)
        raise TypeError("filtered() supports builtin folds on the Catalyst path")

    def pandas_agg(self, pdf):
        if self._pandas_cond is None:
            raise TypeError("filtered() needs pandas_cond on the fallback path")
        return self._inner.pandas_agg(pdf[self._pandas_cond(pdf)])


def filtered(fold: Fold, cond: Column, pandas_cond=None) -> Fold:
    """Conditional fold — SQL's ``agg(x) FILTER (WHERE cond)``.

    Composes with the applicative: several differently-filtered folds still
    run in ONE .agg / one shuffle (the classic conditional-aggregation
    pattern), instead of N filtered scans."""
    return _Filtered(fold, cond, pandas_cond)


def first_by(value: str | Column, order: str | Column, dtype="double") -> Fold:
    """Deterministic 'first': the value at the MINIMUM of an explicit
    ordering column (min_by).  Prefer this over first_()/last_() anywhere
    partitioning is not controlled."""
    return _Expr(lambda: F.min_by(_to_col(value), _to_col(order)),
                 lambda p: p.loc[p[p.columns[1]].idxmin(), p.columns[0]], dtype)


def last_by(value: str | Column, order: str | Column, dtype="double") -> Fold:
    """Deterministic 'last': the value at the MAXIMUM of an explicit
    ordering column (max_by)."""
    return _Expr(lambda: F.max_by(_to_col(value), _to_col(order)),
                 lambda p: p.loc[p[p.columns[1]].idxmax(), p.columns[0]], dtype)


def collect_list_by(value: str | Column, order: str | Column,
                    dtype="array<double>") -> Fold:
    """ORDERED collect: the group's values sorted by an explicit order
    column — the opt-in replacement for the reference's group-internal
    encounter order (``Seq c``, reference Engines/List.hs:70-79), which a
    shuffled engine cannot preserve implicitly.  Implemented as
    array_sort(collect_list(struct(order, value))) → project the value
    field; ties fall through to the value itself, so the result is
    deterministic even under order-key ties."""
    def agg() -> Column:
        packed = F.collect_list(F.struct(_to_col(order).alias("o"),
                                         _to_col(value).alias("v")))
        return F.transform(F.array_sort(packed), lambda s: s["v"])

    return _Expr(
        agg,
        lambda p: list(p.sort_values(by=[p.columns[1], p.columns[0]])[p.columns[0]]),
        dtype,
        object_agg=True,
    )
