"""Core step specs + the DataFrame engine.

The reference's logical plan is the typed triple ``(Unpack, Assign, Reduce)``
(reference src/Control/MapReduce/Core.hs:96-189); engines fuse it into one
fold (Engines.hs:56-59).  Here the triple compiles to a declarative DataFrame
plan and Catalyst IS the engine — the reference's engine zoo (list / vector /
streaming / streamly / parallel, SURVEY §2.3) collapses into Spark's
pipelined narrow stages + shuffle + whole-stage codegen:

    unpack  ->  df.filter(...)            (Filter, Core.hs:97)
                df.select(exprs)          (simpleUnpack, Simple.hs:91-93)
                explode(array_expr)       (melt Unpack, Core.hs:98)
                mapInPandas(fn)           (UnpackM, Core.hs:121-122)
    assign  ->  df.select(k..., v...)     (Assign, Core.hs:144-145)
    group   ->  df.groupBy(k...)          (shuffle; grouping fns SURVEY §2.4)
    reduce  ->  .agg(e1, ..., eN)         (ReduceFold, Core.hs:181; the
                                           applicative N-aggregates-one-
                                           shuffle fusion, Core.hs:211-218)
                repartition(k...)         (whole-group Reduce, Core.hs:180,
                .sortWithinPartitions(k)   and non-compilable custom folds:
                .mapInArrow(fn)            whole groups batched per Arrow
                                           batch — see _grouped_map)

Scale notes
-----------
* The ``.agg`` path gets map-side partial aggregation, AQE partition
  coalescing and skew handling for free — this is the 100 TB path.
* Custom folds WITH ``merge`` run as two-stage aggregation
  (partition-local fold via mapInArrow, then per-key merge in the batched
  group-map): still does partial aggregation, so no group ever
  materializes on one executor.
* Custom folds WITHOUT ``merge`` must see the whole group (the batched
  group-map, ``_grouped_map``: one key shuffle, then whole groups per
  Arrow batch) — exactly the reference's limitation (its foldl folds have
  no merge either, SURVEY §4) — documented as the non-scalable escape
  hatch.  A group is still materialized whole in one task; batching only
  removes the per-group Arrow stream and pandas conversion.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Mapping, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_reduce_folds_spark.folds import CustomFold, Fold


def _to_col(c: str | Column) -> Column:
    return F.expr(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Unpack stage (Core.hs:96-122)
# ---------------------------------------------------------------------------

class Unpack:
    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError


@dataclass
class Keep(Unpack):
    """Identity unpack — ``noUnpack`` (Simple.hs:86-88)."""

    def apply(self, df: DataFrame) -> DataFrame:
        return df


@dataclass
class Filter(Unpack):
    """Predicate unpack — ``Unpack.Filter`` (Core.hs:97) / ``filterUnpack``
    (Simple.hs:96-98).  ``cond`` is a Column or SQL string, so Catalyst can
    push it into the scan."""

    cond: str | Column

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(_to_col(self.cond))


@dataclass
class Transform(Unpack):
    """1→1 transform — ``simpleUnpack`` (Simple.hs:91-93).  Maps column names
    to expressions; the select replaces the row shape."""

    cols: Mapping[str, str | Column]

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(*[_to_col(e).alias(n) for n, e in self.cols.items()])


@dataclass
class Melt(Unpack):
    """Row → 0..n rows — the general ``Unpack`` (Core.hs:98; ``andTwice x =
    [x, 2*x]`` at examples/ListStats.hs:12).

    ``array_expr`` must evaluate to an array column; each element becomes a
    row.  Elements may be structs — set ``flatten=True`` to splat their
    fields into top-level columns.  ``keep`` lists input columns carried
    alongside (the reference's melt replaces the row; keep=() matches it).
    """

    array_expr: str | Column
    alias: str = "y"
    keep: Sequence[str] = ()
    flatten: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        out = df.select(*self.keep, F.explode(_to_col(self.array_expr)).alias(self.alias))
        if self.flatten:
            out = out.select(*self.keep, f"{self.alias}.*")
        return out


@dataclass
class MapInPandas(Unpack):
    """Effectful unpack — ``UnpackM`` (Core.hs:121-122): arbitrary Python
    row-melting via Arrow batches.  ``fn`` is ``iterator[pd.DataFrame] ->
    iterator[pd.DataFrame]``; may filter, duplicate, or reshape rows."""

    fn: Callable[[Iterable[pd.DataFrame]], Iterable[pd.DataFrame]]
    schema: str

    def apply(self, df: DataFrame) -> DataFrame:
        return df.mapInPandas(self.fn, schema=self.schema)


# ---------------------------------------------------------------------------
# Assign stage (Core.hs:144-157)
# ---------------------------------------------------------------------------

@dataclass
class Assign:
    """Row → (key, value) — ``Assign`` (Core.hs:144-145) / ``assign``
    (Simple.hs:101-103).  Both sides are named expression maps, i.e. the
    key and the value may each be composite (the reference uses tuples)."""

    keys: Mapping[str, str | Column]
    values: Mapping[str, str | Column] = field(default_factory=dict)

    def apply(self, df: DataFrame) -> DataFrame:
        exprs = [_to_col(e).alias(n) for n, e in self.keys.items()]
        exprs += [_to_col(e).alias(n) for n, e in self.values.items()]
        return df.select(*exprs)

    @property
    def key_names(self) -> list[str]:
        return list(self.keys.keys())

    @property
    def value_names(self) -> list[str]:
        return list(self.values.keys())

    def contramap(self, cols: Mapping[str, str | Column]) -> "Assign":
        """Profunctor ``lmap`` on the assign step (Core.hs:147-153): pre-
        transform the input row.  Expressed by substituting the renamed
        inputs into this step's expressions via a preceding select — the
        Spark analog of fusing the projection into the stage."""
        pre = Transform(cols)
        return _ContramappedAssign(self, pre)


class _ContramappedAssign(Assign):
    def __init__(self, inner: Assign, pre: "Transform"):
        super().__init__(keys=inner.keys, values=inner.values)
        self._pre = pre

    def apply(self, df: DataFrame) -> DataFrame:
        return super().apply(self._pre.apply(df))


@dataclass
class AssignUDF:
    """Effectful assign — ``AssignM`` (Core.hs:156-157): key/value computed
    by an arbitrary Python function over Arrow batches.  ``fn`` maps a
    pandas DataFrame of input rows to a pandas DataFrame with the key and
    value columns; ``keys``/``values`` name which output columns are which.
    """

    fn: Callable[[pd.DataFrame], pd.DataFrame]
    schema: str
    keys: Sequence[str]
    values: Sequence[str] = ()

    def apply(self, df: DataFrame) -> DataFrame:
        fn = self.fn

        def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                yield fn(pdf)

        return df.mapInPandas(run, schema=self.schema)

    @property
    def key_names(self) -> list[str]:
        return list(self.keys)

    @property
    def value_names(self) -> list[str]:
        return list(self.values)


# ---------------------------------------------------------------------------
# Reduce stage (Core.hs:179-227)
# ---------------------------------------------------------------------------

class Reduce:
    def apply(self, df: DataFrame, key_names: Sequence[str]) -> DataFrame:
        raise NotImplementedError


def _key_fields(df: DataFrame, key_names: Sequence[str]) -> list[str]:
    """DDL fields of the key columns (none for a global reduce)."""
    return [f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields if f.name in key_names]


def _key_breaks(left: Sequence[Any], right: Sequence[Any]) -> Any:
    """Boolean array: True where row i of the ``right`` key columns differs
    from row i of the ``left`` ones, with Spark's grouping equality (null
    equals null, NaN equals NaN)."""
    brk = None
    for a, b in zip(left, right):
        d = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                   pc.xor(pc.is_null(a), pc.is_null(b)))
        if pa.types.is_floating(a.type):
            both_nan = pc.and_(pc.fill_null(pc.is_nan(a), False),
                               pc.fill_null(pc.is_nan(b), False))
            d = pc.and_(d, pc.invert(both_nan))
        brk = d if brk is None else pc.or_(brk, d)
    return brk


def _rows(columns: Sequence[Iterable[Any]], n: int) -> Iterable[tuple]:
    """The ``n`` rows of ``columns`` as tuples (``n`` empty ones if there
    are no columns)."""
    return zip(*columns) if columns else [()] * n


def _group_serializer_args(df: DataFrame) -> tuple:
    """Arguments of PySpark's ``GroupPandasUDFSerializer`` under the
    session's conf, as a pandas grouped map builds it: time zone, safe
    casts, columns by name, int-to-decimal coercion."""
    conf = df.sparkSession.conf

    def flag(name: str, default: str) -> bool:
        return conf.get(name, default).lower() == "true"

    return (
        conf.get("spark.sql.session.timeZone"),
        flag("spark.sql.execution.pandas.convertToArrowArraySafely", "false"),
        flag("spark.sql.legacy.execution.pandas.groupedMap.assignColumnsByName",
             "true"),
        flag("spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled",
             "false"),
    )


def _grouped_map(df: DataFrame, key_names: Sequence[str],
                 fn: Callable[[tuple, pd.DataFrame], Any],
                 schema: str) -> DataFrame:
    """The effectful reduce (Core.hs:179-181) as one batched Arrow map:
    ``fn(key_tuple, group_pdf)`` runs once per whole group, as under
    PySpark's pandas grouped map, but whole groups share Arrow batches
    instead of each group travelling as its own Arrow stream.

    Plan: ``repartition(*keys)`` (``repartition(1)`` with no keys) — the
    same one ``Exchange`` a grouped map plans — then
    ``sortWithinPartitions(*keys)`` and ``mapInArrow``.  Each sorted batch
    is split into per-key runs; a batch's last run is carried into the
    next batch as a list of slices until its key changes.

    ``fn`` sees exactly what the pandas grouped map gives it: each batch is
    converted once with PySpark's own grouped-map serializer (session time
    zone, dates as objects), and only the columns holding nulls in that
    batch are re-converted per group, so a group without nulls keeps its
    integer/bool dtypes and exact values.  ``fn`` returns a DataFrame or
    one row as a dict; a batch's results go back as one Arrow batch,
    columns matched by name, through the same serializer's casts."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    ser_args = _group_serializer_args(df)
    by_name = ser_args[2]
    out_type = StructType.fromDDL(schema)
    out_arrow = to_arrow_schema(out_type)
    out_struct = pa.struct(list(out_arrow))
    knames = list(key_names)
    key_idx = [df.columns.index(k) for k in knames]

    def run(batches: Iterable[Any]) -> Iterable[Any]:
        import numpy as np
        from pyspark.sql.pandas.serializers import GroupPandasUDFSerializer
        from pyspark.worker import verify_pandas_result

        ser = GroupPandasUDFSerializer(*ser_args)

        def to_pandas(table: Any) -> pd.DataFrame:
            return pd.concat([ser.arrow_to_pandas(c, i)
                              for i, c in enumerate(table.itercolumns())], axis=1)

        def call(pdf: pd.DataFrame) -> Any:
            # the key tuple as the grouped map builds it: each key series' [0]
            return fn(tuple(pdf.iloc[:, i][0] for i in key_idx), pdf)

        def to_batch(results: list) -> Any:
            rows = [r for r in results if isinstance(r, dict)]
            frames = [r for r in results if not isinstance(r, dict)]
            for f in frames:
                verify_pandas_result(f, out_type, by_name, False)
            if rows:
                rf = pd.DataFrame(rows)
                for fld in out_arrow:
                    # a null among integers makes pandas widen the column to
                    # float64; keep the exact ints as objects instead
                    if (pa.types.is_integer(fld.type) and fld.name in rf
                            and rf[fld.name].dtype.kind == "f"):
                        rf[fld.name] = pd.Series(
                            [r.get(fld.name) for r in rows], dtype=object)
                frames.append(rf)
            frames = [f for f in frames if len(f)]
            if not frames:
                return None
            # one conversion for the batch when every result has the same
            # columns and dtypes; otherwise one per result, so no result's
            # values are widened by another's dtype
            if len({tuple(f.dtypes.items()) for f in frames}) == 1:
                frames = [pd.concat(frames, ignore_index=True)]
            arr = pa.concat_arrays([ser._create_struct_array(f, out_struct)
                                    for f in frames])
            return pa.RecordBatch.from_struct_array(arr)

        def groups(batch: Any) -> list[tuple[int, int]]:
            """(start, end) of each key run in a sorted batch."""
            n = batch.num_rows
            if not key_idx:
                return [(0, n)]
            keys = [batch.column(i) for i in key_idx]
            brk = _key_breaks([k.slice(0, n - 1) for k in keys],
                              [k.slice(1) for k in keys])
            starts = [0, *(np.flatnonzero(
                brk.to_numpy(zero_copy_only=False)) + 1).tolist()]
            return list(zip(starts, [*starts[1:], n]))

        def continues(last: Any, batch: Any) -> bool:
            """Does ``batch`` open with the key ``last`` ended on?"""
            if not key_idx:
                return True
            return not _key_breaks(
                [last.column(i).slice(last.num_rows - 1) for i in key_idx],
                [batch.column(i).slice(0, 1) for i in key_idx])[0].as_py()

        pending: list = []  # slices of the group still open at a batch end
        for batch in batches:
            if batch.num_rows == 0:
                continue
            runs = groups(batch)
            results: list = []
            if pending and continues(pending[-1], batch):
                s, e = runs.pop(0)
                pending.append(batch.slice(s, e - s))
            if pending and runs:
                results.append(call(to_pandas(pa.Table.from_batches(pending))))
                pending = []
            if runs:
                # the batch's last run may continue into the next batch
                s, _ = runs.pop()
                pending = [batch.slice(s)]
            if runs:
                table = pa.Table.from_batches([batch])
                pdf = to_pandas(table)
                nulls = [i for i, c in enumerate(table.itercolumns())
                         if c.null_count]
                for s, e in runs:
                    g = pdf.iloc[s:e].reset_index(drop=True)
                    for i in nulls:
                        g.isetitem(i, ser.arrow_to_pandas(
                            table.column(i).slice(s, e - s), i))
                    results.append(call(g))
            out = to_batch(results)
            if out is not None:
                yield out
        if pending:
            out = to_batch([call(to_pandas(pa.Table.from_batches(pending)))])
            if out is not None:
                yield out

    if knames:
        parted = df.repartition(*knames).sortWithinPartitions(*knames)
    else:
        parted = df.repartition(1)
    return parted.mapInArrow(run, schema=out_type)


@dataclass
class FoldReduce(Reduce):
    """Per-group folds — ``ReduceFold`` (Core.hs:181).

    ``folds`` maps output column name → Fold.  Multiple entries are the
    applicative ``Reduce`` composition (Core.hs:211-218; ListStats.hs:39-40):
    they all run in ONE ``.agg`` — one shuffle.

    If every fold is Catalyst-compilable → builtin aggregate path.
    Else if every non-compilable fold has ``merge`` → two-stage pandas path
    (partition-local partial fold, then merge per key: map-side combine).
    Else → whole-group pandas folds in the batched group-map
    (:func:`_grouped_map`; escape hatch, reference-equivalent semantics,
    not scalable to giant groups).
    """

    folds: Mapping[str, Fold]

    def apply(self, df: DataFrame, key_names: Sequence[str]) -> DataFrame:
        if all(f.compilable for f in self.folds.values()):
            return self._catalyst_path(df, key_names)
        if all(
            isinstance(f, CustomFold) and f.merge is not None and f.step is not None
            for f in self.folds.values()
        ):
            return self._merge_path(df, key_names)
        return self._pandas_path(df, key_names)

    def _catalyst_path(self, df: DataFrame, key_names: Sequence[str]) -> DataFrame:
        """Compile the fold set to Catalyst aggregates.

        Normally ONE ``.agg`` (the applicative one-shuffle fusion).  One
        planned exception: mixing a DISTINCT fold (count_distinct) with an
        object fold (collect_list/collect_set) makes Catalyst plan an
        Expand (rows × 2) feeding a codegen-less ObjectHashAggregate —
        measured ~3× slower than either fold alone, and the Expand doubles
        shuffle volume at any scale.  The compiler instead splits each
        distinct fold into its own (keys, col) pre-aggregation — map-side
        dedup, whole-stage codegen — and joins the per-key counts back
        (null-safe on keys; key groups are identical on both sides by
        construction).  Semantics are exactly equal; asserted in
        tests/test_folds.py."""
        folds = dict(self.folds)
        distinct = {n: f for n, f in folds.items() if f.distinct_input is not None}
        if not distinct or not any(f.object_agg for f in folds.values()):
            aggs = [f.spark_agg().alias(name) for name, f in folds.items()]
            return df.groupBy(*key_names).agg(*aggs)
        main_aggs = [f.spark_agg().alias(n) for n, f in folds.items()
                     if n not in distinct]
        out = df.groupBy(*key_names).agg(*main_aggs)
        knames = list(key_names)
        for i, (name, f) in enumerate(distinct.items()):
            tmp = f"__dv{i}"
            pre = df.select(*knames, _to_col(f.distinct_input).alias(tmp)).distinct()
            sub = pre.groupBy(*knames).agg(
                f.apply_post(F.count(tmp)).alias(name))
            if knames:
                rk = [f"__rk{i}_{j}" for j in range(len(knames))]
                sub = sub.select(
                    *[F.col(k).alias(r) for k, r in zip(knames, rk)], name)
                cond = None
                for k, r in zip(knames, rk):
                    c = out[k].eqNullSafe(sub[r])
                    cond = c if cond is None else (cond & c)
                out = out.join(sub, cond, "inner").drop(*rk)
            else:
                out = out.crossJoin(sub)
        return out.select(*knames, *folds.keys())

    def _merge_path(self, df: DataFrame, key_names: Sequence[str]) -> DataFrame:
        """Distributed custom folds: partition-local partial fold
        (mapInArrow, keys read exactly from the Arrow columns) → shuffle
        only (key, state) rows → per-key merge + extract.  This is the
        map-side combine the reference cannot do
        (foldl folds lack ``merge`` — SURVEY §4 'notably absent'): shuffle
        volume is #partitions × #keys, not #rows, and no group ever
        materializes in one task."""
        import json

        folds = dict(self.folds)
        key_fields = _key_fields(df, key_names)
        value_names = [c for c in df.columns if c not in key_names]
        # states travel as JSON strings — schema-free, and custom fold
        # states are tiny by definition (they summarize a partition)
        st_names = [f"__st_{i}" for i in range(len(folds))]
        part_schema = ", ".join(key_fields + [f"{s} string" for s in st_names])
        out_schema = ", ".join(
            key_fields + [f"{n} {f.dtype}" for n, f in folds.items()])
        fold_list = list(folds.values())
        knames = list(key_names)
        # the partial batch's key columns in the order of ``key_fields``
        key_idx = [i for i, c in enumerate(df.columns) if c in key_names]
        part_names = [df.columns[i] for i in key_idx] + st_names
        val_idx = [df.columns.index(v) for v in value_names]
        ser_args = _group_serializer_args(df)

        def partial(batches: Iterable[Any]) -> Iterable[Any]:
            from pyspark.sql.pandas.serializers import GroupPandasUDFSerializer

            ser = GroupPandasUDFSerializer(*ser_args)
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                # keys come exactly from the Arrow columns (pandas would
                # widen a bigint key with a null to float64); values reach
                # ``step`` as the group-map's converter gives them
                keys = _rows([batch.column(i).to_pylist() for i in key_idx], n)
                vals = _rows([ser.arrow_to_pandas(batch.column(i), i)
                              for i in val_idx], n)
                accs: dict[tuple, list] = {}
                first: list[int] = []  # row where each key first appears
                for r, (key, v) in enumerate(zip(keys, vals)):
                    st = accs.get(key)
                    if st is None:
                        st = [f.init() if callable(f.init) else f.init
                              for f in fold_list]
                        accs[key] = st
                        first.append(r)
                    arg = v if len(v) > 1 else v[0]
                    for i, f in enumerate(fold_list):
                        st[i] = f.step(st[i], arg)
                at = pa.array(first, pa.int64())
                cols = [batch.column(i).take(at) for i in key_idx]
                cols += [pa.array([json.dumps(st[i]) for st in accs.values()],
                                  pa.string()) for i in range(len(fold_list))]
                yield pa.RecordBatch.from_arrays(cols, names=part_names)

        def merge_extract(keys: tuple, pdf: pd.DataFrame) -> dict:
            row = dict(zip(knames, keys))
            for i, (name, f) in enumerate(folds.items()):
                states = [json.loads(s) for s in pdf[f"__st_{i}"]]
                acc = states[0]
                for s in states[1:]:
                    acc = f.merge(acc, s)
                row[name] = f.extract(acc)
            return row

        partials = df.mapInArrow(partial, schema=part_schema)
        return _grouped_map(partials, knames, merge_extract, out_schema)

    def _pandas_path(self, df: DataFrame, key_names: Sequence[str]) -> DataFrame:
        folds = dict(self.folds)
        out_schema = ", ".join(_key_fields(df, key_names) + [
            f"{n} {f.dtype}" for n, f in folds.items()])

        def reduce_group(keys: tuple, pdf: pd.DataFrame) -> dict:
            vals = pdf.drop(columns=list(key_names))
            row = dict(zip(key_names, keys))
            for n, f in folds.items():
                row[n] = f.pandas_agg(vals)
            return row

        return _grouped_map(df, key_names, reduce_group, out_schema)


@dataclass
class GroupReduce(Reduce):
    """Whole-group function with the key in scope — ``Reduce.Reduce``
    (Core.hs:180) / ``processAndLabel`` (Simple.hs:126-141), and the
    key-dependent fold ``k -> Fold c d`` (Core.hs:181).

    ``fn(key_tuple, pdf) -> pd.DataFrame`` runs once per whole group in the
    batched group-map (:func:`_grouped_map`), seeing the key tuple and
    frame a pandas grouped map would give it; ``schema`` is the output DDL
    (must include any key columns you emit; columns match by name).

    ``order_by`` opts into the reference's group-internal encounter order
    (``Seq c``, Engines/List.hs:70-79): the group's rows are sorted by the
    named column(s) before ``fn`` sees them.  A shuffled engine cannot
    preserve arrival order implicitly, so order-sensitive folds must name
    their order explicitly — same contract as folds.collect_list_by."""

    fn: Callable[[tuple, pd.DataFrame], pd.DataFrame]
    schema: str
    order_by: Sequence[str] = ()

    def apply(self, df: DataFrame, key_names: Sequence[str]) -> DataFrame:
        fn = self.fn
        if self.order_by:
            order = list(self.order_by)

            def ordered_fn(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                return fn(keys, pdf.sort_values(by=order, kind="mergesort"))

            run = ordered_fn
        else:
            run = fn
        return _grouped_map(df, key_names, run, self.schema)


# ---------------------------------------------------------------------------
# The fused pipeline (an "engine" — Engines.hs:56-59)
# ---------------------------------------------------------------------------

@dataclass
class MapReduce:
    """``mapReduceFold`` (Simple.hs:164-173): fuse unpack/assign/reduce into
    one DataFrame plan.  ``run`` returns the per-group result DataFrame (one
    row per key) — the analog of the engine's ``q d``."""

    unpack: Unpack = field(default_factory=Keep)
    assign: Assign | None = None
    reduce: Reduce | None = None

    def run(self, df: DataFrame) -> DataFrame:
        out = self.unpack.apply(df)
        if self.assign is None:
            return out
        kv = self.assign.apply(out)
        if self.reduce is None:
            return kv
        return self.reduce.apply(kv, self.assign.key_names)

    def unpack_only(self, df: DataFrame) -> DataFrame:
        """``unpackOnlyFold`` (Simple.hs:215-222): run just the unpack."""
        return self.unpack.apply(df)


def concat(result: DataFrame, folds: Mapping[str, Fold]) -> DataFrame:
    """``concatFold`` (Simple.hs:156-162): mappend all per-group results into
    one — a second, global aggregation over the group-result DataFrame."""
    aggs = [f.spark_agg().alias(name) for name, f in folds.items()]
    return result.agg(*aggs)


def shared_scan(df: DataFrame, *pipelines: MapReduce) -> list[DataFrame]:
    """Applicative FOLD composition (``(,) <$> sumsF <*> meansF``,
    ListStats.hs:36): N pipelines over one input frame.  The reference
    guarantees one pass; here each pipeline plans its own scan of ``df``
    — a perf property, not a semantic one (SURVEY §3 entry 3).  No cache
    is taken: a cache-manager entry would redirect every other reader of
    the same frame to an ``InMemoryRelation`` until it is dropped."""
    return [p.run(df) for p in pipelines]
