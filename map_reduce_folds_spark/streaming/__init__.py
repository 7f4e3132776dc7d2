"""Structured Streaming surface (SURVEY §2.7 GAP / §7.2 step 6).

The reference's "streams" are in-memory lazy sequences whose grouping step
materializes everything (reference Engines/Streaming.hs:85-88) — nothing is
incremental across the group boundary.  Here the SAME ``MapReduce`` spec
compiles onto Structured Streaming, where the grouping becomes a true
incremental stateful aggregation:

* ``stream_mapreduce`` — unpack/assign stages apply unchanged (narrow ops
  are identical in batch and streaming); the reduce stage runs as a
  windowed streaming aggregation with a watermark bounding state.
* The fold's (step, init, extract) triple is exactly a streaming state
  spec; builtin folds compile to Spark's native incremental aggregates.

Late data: the watermark is the contract — events later than it are
dropped from their window; everything newer updates results incrementally.
State size is bounded by (#keys × #open windows), the quantity to watch at
100 TB/day ingest.

``replay_to_memory`` is the one replay harness: it stages micro-batches
as a file stream in pinned order and drains a stream built over it into
a memory table.  The stateful stream twins run on it.

``_keyed_fold`` is the one GroupState runtime of the per-key twins
(``stateful_fold``, ``stream_funnel_depth``, ``stream_ewma``,
``stream_holt``, ``stream_scd2``, ``stream_cusum``, ``stream_holtwinters``,
``stream_confseq``): each supplies a projection, an initial state and an
``advance(state, rows) -> (state, out_rows)`` step; the runtime owns the
key DDL, the gathering of a key's micro-batch rows, the state codec and
the emitted frames.  The codec is base64 of a pickle, so a state may hold
timestamps, decimals and lists, which JSON cannot.  ``sessionize_stateful``
keeps its own loop: it is the only event-time-timeout user.

In-batch order: the event-ordered twins sort a key's micro-batch rows by
(event time, tiebreak) before stepping, so a time-ordered replay equals
the batch operator.  Across micro-batches the state is folded in arrival
order: a late event that arrives in a later micro-batch than its
successors folds into the state as of its arrival batch (the same
first-writer-wins caveat as ``incremental_dedup``).
"""

from __future__ import annotations

import base64
import os
import pickle
import shutil
import tempfile
import threading
import time
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_folds_spark.core import FoldReduce, MapReduce, _key_fields
from map_reduce_folds_spark.folds import Fold


def read_parquet_stream(
    spark: SparkSession, path: str, schema: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream: replays a parquet directory as micro-batches
    (the fixture-friendly source; swap for kafka in production)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def stream_mapreduce(
    stream: DataFrame,
    mr: MapReduce,
    ts_col: str,
    window: str | None = None,
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Compile a ``MapReduce`` spec onto a streaming DataFrame.

    The unpack stage must be row-wise (Filter/Transform/Melt all qualify).
    The assign stage's keys are augmented with a time window over ``ts_col``
    when ``window`` is given (tumbling, or sliding when ``slide`` is set).
    The reduce stage must be a compilable ``FoldReduce`` — streaming
    aggregation state is maintained incrementally per (window, key).
    """
    if not isinstance(mr.reduce, FoldReduce):
        raise TypeError("streaming reduce must be a FoldReduce")
    if not all(f.compilable for f in mr.reduce.folds.values()):
        raise TypeError(
            "streaming folds must compile to Spark aggregate expressions "
            "(custom folds need applyInPandasWithState — see stateful_fold)"
        )

    out = mr.unpack.apply(stream)
    # keep the event-time column alongside assigned (k, v) for the watermark
    assign = mr.assign
    exprs = [F.col(ts_col).alias("__ts")]
    exprs += [
        (F.expr(e) if isinstance(e, str) else e).alias(n)
        for n, e in {**assign.keys, **assign.values}.items()
    ]
    kv = out.select(*exprs).withWatermark("__ts", watermark)

    group_cols = []
    if window is not None:
        win = F.window("__ts", window, slide) if slide else F.window("__ts", window)
        group_cols.append(win.alias("window"))
    group_cols += [F.col(k) for k in assign.key_names]

    aggs = [f.spark_agg().alias(name) for name, f in mr.reduce.folds.items()]
    return kv.groupBy(*group_cols).agg(*aggs)


def session_windows(
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    gap: str,
    aggs: Mapping[str, Fold],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregation (dynamic gap-based windows) — the
    streaming analog of operators/windows.sessionize."""
    w = stream.withWatermark(ts_col, watermark)
    agg_exprs = [f.spark_agg().alias(name) for name, f in aggs.items()]
    return w.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *keys).agg(
        *agg_exprs
    )


# replayed input rows per stateful-shuffle partition (reasoning in
# adaptive_state_partitions)
STATE_ROWS_PER_PARTITION = 2500


def adaptive_state_partitions(spark: SparkSession, input_rows: int) -> int:
    """AQE-style sizing for a stateful streaming shuffle, keyed on ROWS.

    Batch shuffles get their small partitions coalesced at runtime by AQE;
    a streaming stateful operator CANNOT — its partition count is pinned
    (from ``spark.sql.shuffle.partitions``) when the query first starts and
    every micro-batch then pays a fixed per-partition cost (one
    applyInPandasWithState Python-worker exchange + one state-store
    open/commit per partition per batch, measured ~0.1 s each locally)
    even for partitions holding a handful of keys.  So derive the count
    from the replayed input, capped at the session's shuffle parallelism.

    Rows, not bytes, because the stateful stage is per-row-expensive
    PYTHON (the same measured lesson as the LSH candidate verify:
    partition count must follow row-wise work) — a byte rule sized this
    KB-scale state to ONE partition and serialized the whole per-key fold
    onto one core (measured 4.7 s vs 2.7 s at 4 partitions, sf0.01).
    The chunk is :data:`STATE_ROWS_PER_PARTITION` (2500: per-partition
    fixed cost ~0.1 s over ~0.15 ms/row of fold work is the measured
    local balance point; a cluster serving real state volume would raise
    it and saturate the cap anyway).
    Scale-adaptive by construction: a 100 TB replay hits the session cap,
    a fixture replay gets the handful of partitions its work warrants.
    """
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(sess, -(-int(input_rows) // STATE_ROWS_PER_PARTITION)))


def _part_files(path: str) -> list[str]:
    """The parquet files of ``path``: the path itself when it is a file,
    else every ``*.parquet`` below it in name order, symlinks followed
    (a Spark-written ``x.parquet/`` of part files); ``_``/``.``-prefixed
    entries are skipped, as Spark skips them."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for d, subdirs, files in os.walk(path, followlinks=True):
        subdirs[:] = sorted(s for s in subdirs if not s.startswith(("_", ".")))
        out += [os.path.join(d, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


def staged_parquet_rows(src_dir: str) -> int:
    """Exact row count of a staged replay directory from parquet FOOTERS
    of its :func:`_part_files` (no Spark job, no data read) — the
    input-size probe :func:`adaptive_state_partitions` wants."""
    import pyarrow.parquet as _pq

    return sum(_pq.ParquetFile(f).metadata.num_rows
               for f in _part_files(src_dir))


# held by run_to_memory from pin to restore: the shuffle-partition conf is
# session-global, so two overlapping calls must not interleave
_PIN_LOCK = threading.Lock()


def run_to_memory(stream_df: DataFrame, name: str, timeout_s: float = 60,
                  output_mode: str = "complete",
                  state_partitions: int | None = None) -> DataFrame:
    """Drain a (file-replay) stream into an in-memory table and return it —
    test/debug sink only.  A stream still running after ``timeout_s``
    seconds is stopped and raises ``TimeoutError``: the sink would hold
    only part of the rows.

    ``state_partitions`` (e.g. from :func:`adaptive_state_partitions`)
    temporarily pins ``spark.sql.shuffle.partitions`` for the query's
    lifetime: StreamExecution clones the session conf when the query
    starts, so the stateful operator's partition count is captured then
    and the session value can be restored afterwards.

    The pin is session-global: any other job planned on the session while
    the query runs sees the pinned value.  Calls to this function hold a
    module lock for the whole drain, so overlapping calls run one after
    another: none starts its stream under another's pin, and each
    restores the value it found.
    """
    spark = stream_df.sparkSession
    with _PIN_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(int(state_partitions)))
        try:
            q = (
                stream_df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(timeout_s)
            q.stop()
            if not finished:
                raise TimeoutError(
                    f"stream {name!r} still running after {timeout_s} s")
        finally:
            if state_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    return stream_df.sparkSession.table(name)


def replay_to_memory(spark: SparkSession, batches, schema: str, build,
                     name: str, output_mode: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """Replay ``batches`` as a parquet file stream, run ``build(stream)``
    over it and drain the result into the memory table ``name``, returned
    (its rows live on the driver, so they outlive the staged files).

    Each batch is a list of inputs: a Spark ``DataFrame`` (written with
    ``coalesce(1)``), a ``pyarrow.Table`` (written on the driver, no Spark
    job) or the path of a parquet file or directory, linked part file by
    part file (the file source reads nothing through a link to a
    directory).  A caller's files are never modified, so they keep their
    own times and a path may only join the first batch.  Every file
    written for batch ``i`` gets the mtime ``t0 + 100·i`` and the links
    are named in staging order, so the source's (mtime, name) order is
    the batch order.  The stateful shuffle is sized from the staged rows;
    one temporary directory holds everything and is removed before this
    returns or raises.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="mrf_replay_")
    try:
        src = os.path.join(tmp, "src")
        os.mkdir(src)
        t0, n = time.time(), 0
        for i, batch in enumerate(batches):
            for j, item in enumerate(batch):
                if isinstance(item, str):
                    if i:
                        raise ValueError(
                            "a parquet path keeps its own file times, so it "
                            "may only join the first micro-batch")
                    parts = _part_files(os.path.abspath(item))
                else:
                    staged = os.path.join(tmp, f"{i}_{j}.parquet")
                    if isinstance(item, pa.Table):
                        pq.write_table(item, staged)
                    else:
                        item.coalesce(1).write.parquet(staged)
                    parts = _part_files(staged)
                    for f in parts:
                        os.utime(f, (t0 + 100 * i, t0 + 100 * i))
                for f in parts:
                    os.symlink(f, os.path.join(src, f"{n:06d}.parquet"))
                    n += 1
        stream = read_parquet_stream(spark, src, schema, max_files_per_trigger)
        return run_to_memory(
            build(stream), name, timeout_s=300, output_mode=output_mode,
            state_partitions=adaptive_state_partitions(
                spark, staged_parquet_rows(src)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _encode_state(state) -> str:
    """The per-key twins' state codec: base64 of a pickle, stored in the
    ``acc string`` state column.  :func:`_decode_state` unpickles only
    what this wrote into the query's own state store."""
    return base64.b64encode(pickle.dumps(state)).decode("ascii")


def _decode_state(blob: str):
    return pickle.loads(base64.b64decode(blob))


# the gathered columns of an _event_rows projection
_EVENT_COLS = ["__t", "__b", "__x"]


def _event_rows(stream: DataFrame, key: str, ts_col: str,
                tiebreak_col: str | None, value) -> DataFrame:
    """The ``(key, __t, __b, __x)`` projection of the event-ordered twins:
    event time in µs, the tiebreak (0 without one) and the value."""
    from ..timeutil import epoch_us

    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    return stream.select(F.col(key), epoch_us(F.col(ts_col)).alias("__t"),
                         tb.alias("__b"), value.alias("__x"))


def _keyed_fold(src: DataFrame, keys: list[str], cols: list[str], init,
                advance, out_fields: dict[str, str],
                output_mode: str) -> DataFrame:
    """The one GroupState loop of the per-key twins
    (``applyInPandasWithState``, no timeout).

    Per key and micro-batch: the state (a fresh decoded copy of ``init``
    for a new key), the batch's ``cols`` gathered as row tuples, then
    ``advance(state, rows) -> (state, out_rows)``.  The new state is
    stored; each out row (values for ``out_fields``, in order) is emitted
    behind the key, in the output DDL's column order: the keys as ``src``
    orders them, then ``out_fields``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_names = [f.name for f in src.schema.fields if f.name in keys]
    out_schema = ", ".join(
        _key_fields(src, keys) + [f"{n} {t}" for n, t in out_fields.items()])
    columns = key_names + list(out_fields)
    init_blob = _encode_state(init)

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd  # local import: runs on executors

        rows = []
        for pdf in pdf_iter:
            rows.extend(zip(*(pdf[c] for c in cols)))
        # pdf_iter can yield chunks that are all zero-row
        if not rows:
            return
        st, out = advance(
            _decode_state(state.get[0] if state.exists else init_blob), rows)
        state.update((_encode_state(st),))
        by_name = dict(zip(keys, key))
        k = tuple(by_name[n] for n in key_names)
        yield pd.DataFrame([k + tuple(r) for r in out], columns=columns)

    return src.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="acc string",
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_fold(
    stream: DataFrame,
    keys: list[str],
    value_cols: list[str],
    fold,
    out_col: str = "result",
    out_dtype: str = "double",
    output_mode: str = "update",
) -> "StreamingFoldQuery":
    """Arbitrary custom fold as an incrementally-maintained streaming state
    (``applyInPandasWithState``).

    The fold's ``(step, init, extract)`` triple — the reference's
    ``FL.Fold`` (Streamly.hs:140-141) — IS the state spec: state = acc,
    update = step over the micro-batch's rows, emit = extract(acc).  The
    fold must be a ``CustomFold`` with picklable step/init/extract and a
    picklable accumulator, carried by the module's state codec.  ``step``
    gets the value itself for one value column, else a tuple in
    ``value_cols`` order.

    Each micro-batch emits one updated row per touched key (update mode).
    Unlike the windowed path this never drops state (no watermark): use it
    for per-key running aggregates, not unbounded-cardinality keys.
    """
    def advance(acc, rows):
        for row in rows:
            acc = fold.step(acc, row if len(value_cols) > 1 else row[0])
        return acc, [(fold.extract(acc),)]

    init = fold.init() if callable(fold.init) else fold.init
    return _keyed_fold(stream, keys, value_cols, init, advance,
                       {out_col: out_dtype}, output_mode)


def sessionize_stateful(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Timer-based session emission on ``applyInPandasWithState`` — the
    streaming analog of operators/windows.sessionize that emits ONE row per
    CLOSED session: (keys…, session_start_us, session_end_us, n_events).

    Two close paths, both exact w.r.t. the gap rule:

    * **in-batch close** — a later event more than ``gap_seconds`` after
      the open session's end closes it immediately;
    * **timeout close** — an EVENT-TIME timeout at ``session_end + gap``
      fires once the watermark passes it, closing sessions that simply
      stopped receiving events.

    The session arithmetic is :func:`_fold_session_times`.  This twin keeps
    its own loop instead of ``_keyed_fold``: it is the only user of
    ``EventTimeTimeout``.  The caller must set a watermark on ``ts_col``
    (EventTimeTimeout requires one); state per key is one open-session
    triple — O(keys), not O(events).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ", ".join(_key_fields(stream, keys) + [
        "session_start_us bigint", "session_end_us bigint", "n_events bigint"])
    state_schema = "start_us bigint, end_us bigint, n bigint"
    gap_us = gap_seconds * 1_000_000

    def update(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        def emit(start, end, n):
            row = dict(zip(keys, key))
            row.update(session_start_us=int(start), session_end_us=int(end),
                       n_events=int(n))
            return pd.DataFrame([row])

        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield emit(start, end, n)
            return

        ts_us = []
        for pdf in pdf_iter:
            t = pd.to_datetime(pdf[ts_col])
            if getattr(t.dt, "tz", None) is not None:
                t = t.dt.tz_convert("UTC").dt.tz_localize(None)
            ts_us.append(t.to_numpy().astype("int64") // 1000)
        # guard on the CONCATENATED array: pdf_iter can yield chunks that
        # are all zero-row, which `if not ts_us` would miss
        times = (np.sort(np.concatenate(ts_us)) if ts_us
                 else np.array([], dtype="int64"))
        if times.size == 0:
            return
        prev = tuple(state.get) if state.exists else None
        closed, open_ = _fold_session_times(times, prev, gap_us)
        state.update(open_)
        # close once the WATERMARK (not processing time) passes end + gap
        state.setTimeoutTimestamp((open_[1] + gap_us) // 1000)
        for s in closed:
            yield emit(*s)

    return (
        stream.groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a bounded time relation: right events
    within [left_time - max_delay, left_time].

    Both sides carry watermarks and the join condition bounds event-time
    distance — together these let Spark expire join state (without them a
    stream-stream join buffers forever).  State size ≈ rate × (watermark +
    max_delay) per side: THE quantity to watch at production ingest rates.
    """
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_time] >= F.expr(f"{left_time} - INTERVAL {max_delay}"))
        & (rw[right_time] <= lw[left_time])
    )
    return lw.join(rw, cond, how)


def write_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """foreachBatch sink: apply an arbitrary BATCH writer to each
    micro-batch (the idiomatic exactly-once-ish bridge to any batch sink —
    upserts, bucketed tables, multiple destinations).  ``batch_fn(df,
    batch_id)`` runs on the driver with a normal batch DataFrame."""
    w = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on ``keys``.

    With ``ts_col``: dropDuplicatesWithinWatermark — state for a key is
    dropped once the watermark passes it (bounded state, the production
    form for at-least-once sources that may redeliver).  Without: global
    dropDuplicates (state grows with distinct keys — bounded domains only).
    """
    if ts_col is not None:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def incremental_dedup(
    stream: DataFrame,
    digest_cols: list[str],
    seen_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Delta-style incremental ingest dedup: each micro-batch anti-joins
    against the PERSISTED digest table of everything already accepted, then
    appends the survivors' digests back — so duplicates are dropped across
    batches, restarts, AND separate runs (unlike dropDuplicates state,
    which lives only inside one query's checkpoint).

    Batch-local duplicates are collapsed first (keep-first by digest), so
    the digest table stays unique.  At cluster scale ``seen_dir`` would be
    a bucketed/Delta table with the anti join co-located on the digest; a
    bloom-filter sidecar cuts the probe cost — the parquet form here
    exercises the identical plan.
    """

    def process(df: DataFrame, batch_id: int):
        spark = df.sparkSession
        fresh = df.dropDuplicates(digest_cols)
        try:
            seen = spark.read.parquet(seen_dir)
            new = fresh.join(seen, digest_cols, "left_anti")
        except Exception:  # first batch: no digest table yet
            new = fresh
        new.persist()
        new.write.mode("append").parquet(out_dir)
        new.select(*digest_cols).write.mode("append").parquet(seen_dir)
        new.unpersist()

    return write_foreach_batch(stream, process, checkpoint_dir)


def _fold_session_times(times, state, gap_us):
    """Pure session state machine of :func:`sessionize_stateful`, unit
    tested without a stream.

    ``times``: ascending event times (µs); ``state``: open (start, end, n)
    or None.  Returns (closed_sessions, new_open_state): sessions closed by
    the gap rule within this batch, plus the still-open trailing session.
    """
    closed = []
    start, end, n = state if state is not None else (None, None, 0)
    for t in times:
        t = int(t)
        if start is None:
            start, end, n = t, t, 1
        elif t - end <= gap_us:
            end, n = max(end, t), n + 1
        else:
            closed.append((start, end, n))
            start, end, n = t, t, 1
    return closed, (start, end, n)


def stream_cms_cells(
    stream: DataFrame,
    item_col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Streaming count-min sketch: maintain the d×w cell counts of
    ``operators/sketches.cms_cells`` incrementally over an unbounded
    stream (complete/update output modes).

    Cell counts are ADDITIVE (the sketch monoid), so the batch groupBy
    IS the streaming aggregation — no custom state machine: state is the
    ≤ d·w non-empty cells regardless of key cardinality, which is the
    whole point on a stream whose distinct-key space would make an exact
    per-key count's state unbounded.  Downstream, point-estimate hot keys
    with ``sketches.cms_estimate`` against any snapshot of the cells —
    batch-vs-stream cell equality is property-tested
    (tests/test_streaming.py)."""
    from map_reduce_folds_spark.operators.sketches import _cms_rc

    e = stream.select(
        F.explode(_cms_rc(F.col(item_col), d, w)).alias("rc")
    ).select(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    return e.groupBy("r", "c").agg(F.count(F.lit(1)).alias("cnt"))


def stream_hll_registers(
    stream: DataFrame,
    item_col,
    p: int = 12,
) -> DataFrame:
    """Streaming HyperLogLog: maintain the ``(reg, rank)`` register
    relation of ``operators/sketches.hll_sketch`` incrementally over an
    unbounded stream (complete/update output modes).

    Register max-rank is MONOTONE (the HLL merge is MAX), so — exactly
    like :func:`stream_cms_cells` — the batch groupBy-max IS the
    streaming aggregation: state is ≤ 2^p register rows no matter how
    many distinct items flow past, which is the point when an exact
    streaming count-distinct's state would be unbounded.  Estimate any
    snapshot with ``sketches.hll_estimate`` (one aggregate over the
    register rows); batch-vs-stream register equality is property-tested
    (tests/test_streaming.py)."""
    from map_reduce_folds_spark.operators.sketches import hll_register

    reg, rank = hll_register(item_col, p)
    return stream.select(reg, rank).groupBy("reg").agg(
        F.max("rank").alias("rank"))


def stream_hll_windowed(
    stream: DataFrame,
    ts_col: str,
    item_col,
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 12,
) -> DataFrame:
    """WINDOWED streaming HyperLogLog: per event-time tumbling window,
    maintain the ``(window, reg, rank)`` register relation — the
    streaming twin of per-bucket :func:`sketches.hll_sketch` (and the
    building block :func:`sketches.hll_sliding_estimate` merges for
    sliding spans).  The exact streaming distinct-count's state grows
    with item cardinality; the register relation is capped at
    2^p rows per window, and the watermark lets Spark DROP closed
    windows' state — bounded memory over an unbounded stream.

    Register max is monotone, so the built-in windowed groupBy-max IS
    the incremental aggregation (no custom state handler).  Estimate
    with ``sketches.hll_estimate`` grouped by the window column;
    batch-vs-stream register equality is property-tested
    (tests/test_streaming.py)."""
    from map_reduce_folds_spark.operators.sketches import hll_register

    reg, rank = hll_register(item_col, p)
    return (
        stream.withWatermark(ts_col, watermark)
        .select(F.window(F.col(ts_col), window).alias("win"), reg, rank)
        .groupBy("win", "reg").agg(F.max("rank").alias("rank"))
    )


def stream_funnel_depth(
    stream: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
    within: int | None = None,
    tiebreak_col: str | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming conversion funnel: incrementally-maintained per-user
    greedy in-order depth (the streaming twin of
    ``windows.funnel_depth``, same strict-order semantics and the same
    optional ``within=`` µs horizon).

    State per user is TWO integers — (depth, last-matched-step time) —
    regardless of how many events the user ever produces: the greedy
    fold is associative-enough to run incrementally because a prefix's
    result is exactly the fold state.  Non-step events are filtered
    BEFORE the stateful operator (pushes into the source scan), the
    steps-only discipline of the batch twin.

    Events are folded in EVENT-TIME order within each micro-batch (the
    batch's rows are sorted before stepping); late events that arrive in
    a later micro-batch than a successor step are ignored by the greedy
    state — the documented arrival-order caveat shared by
    ``incremental_dedup`` (exactly-once per key, first-writer-wins).
    For time-ordered replay (the property tests' shape) the result
    equals the batch operator on the union of all batches."""
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    horizon = None if within is None else int(within)

    # pre-map events to STEP INDICES (the batch twin's discipline) so the
    # in-batch sort key is (ts, tiebreak, index) — same-timestamp events
    # fold in the same order as batch funnel_depth's struct sort, never
    # by event-name lexicography
    idx_col = F.lit(0)
    for i_, step_ in reversed(list(enumerate(steps))):
        idx_col = F.when(F.col(event_col) == step_,
                         F.lit(i_ + 1)).otherwise(idx_col)
    src = _event_rows(stream.where(F.col(event_col).isin(steps)), user_col,
                      ts_col, tiebreak_col, idx_col.cast("int"))

    def advance(st, rows):
        depth, last_t = st
        for t, _b, i in sorted(rows):
            if i == depth + 1 and (
                horizon is None or depth == 0 or t - last_t <= horizon
            ):
                depth, last_t = depth + 1, int(t)
        return (depth, last_t), [(depth,)]

    return _keyed_fold(src, [user_col], _EVENT_COLS, (0, 0), advance,
                       {"depth": "int"}, output_mode)


def stream_ewma(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    alpha_halves: int = 1,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming per-key exponential smoothing: the incremental twin of
    ``windows.ewma_last`` — state is TWO scalars per key (count,
    current ewma) at any event volume, the smallest possible stateful
    footprint.  Each micro-batch folds its rows in (ts, tiebreak)
    event-time order through the same α = 1/2^k power-of-two-exact
    recursion, so a time-ordered replay is BITWISE equal to the batch
    operator (parity-tested).  Cross-batch arrival order as in the module
    docstring."""
    if alpha_halves < 1:
        raise ValueError(f"alpha_halves must be >= 1, got {alpha_halves}")
    alpha = 1.0 / (1 << alpha_halves)

    def advance(st, rows):
        n, e = st
        for _t, _b, x in sorted(rows):
            e = float(x) if n == 0 else alpha * float(x) + (1 - alpha) * e
            n += 1
        return (n, e), [(n, e)]

    src = _event_rows(stream, key, ts_col, tiebreak_col,
                      F.col(value_col).cast("double"))
    return _keyed_fold(src, [key], _EVENT_COLS, (0, 0.0), advance,
                       {"n_events": "bigint", "ewma": "double"}, output_mode)


def stream_holt(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    alpha_halves: int = 2,
    beta_halves: int = 2,
    horizon: int = 1,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming per-key HOLT level+trend smoothing: the incremental
    twin of ``windows.holt_last`` — state is THREE scalars per key
    (count, level, trend) at any event volume.  Each micro-batch folds
    its rows in (ts, tiebreak) event-time order through the same
    power-of-two-exact contract-form recursion (expanded trend update,
    see the batch operator's docstring), so a time-ordered replay is
    BITWISE equal to the batch operator (parity-tested), emitting the
    rolling ``horizon``-step forecast per key per micro-batch — the
    live anomaly/forecast feed a monitoring pipeline consumes.
    Cross-batch arrival order as in the module docstring."""
    if alpha_halves < 1 or beta_halves < 1:
        raise ValueError(
            f"alpha_halves/beta_halves must be >= 1, got "
            f"{alpha_halves}/{beta_halves}")
    alpha = 1.0 / (1 << alpha_halves)
    beta = 1.0 / (1 << beta_halves)
    h = float(horizon)

    def advance(st, rows):
        n, lv, tr = st
        for _t, _b, x in sorted(rows):
            x = float(x)
            if n == 0:
                lv, tr = x, 0.0
            else:
                nl = alpha * x + (1 - alpha) * (lv + tr)
                ntr = (beta * (alpha * (x - lv) + (1 - alpha) * tr)
                       + (1 - beta) * tr)
                lv, tr = nl, ntr
            n += 1
        return (n, lv, tr), [(n, lv, tr, lv + h * tr)]

    src = _event_rows(stream, key, ts_col, tiebreak_col,
                      F.col(value_col).cast("double"))
    return _keyed_fold(
        src, [key], _EVENT_COLS, (0, 0.0, 0.0), advance,
        {"n_events": "bigint", "level": "double", "trend": "double",
         "forecast": "double"}, output_mode)


def stream_scd2(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming SCD Type 2 build: the incremental twin of
    ``windows.scd2_history`` — per-key run collapse with validity ranges,
    maintained as FOUR scalars of state per key (current value, version,
    run start, run event count) at any event volume.

    Each micro-batch folds its rows in (ts, tiebreak) event-time order;
    a value change CLOSES the open run (its row re-emits with
    ``valid_to`` = the new run's start) and opens the next version.
    Update-mode consumers keep the LAST emission per (key, version) —
    closed runs are final, the open run's row grows its ``n_events`` and
    carries ``valid_to`` NULL.  Cross-batch arrival order as in the module
    docstring: cross-batch late events fold into the run open at their
    arrival batch (time-ordered replay equals the batch operator,
    parity-tested).

    ``value_col`` may be ANY type the batch twin accepts — timestamps,
    dates, decimals — since the state codec carries it as is."""
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}

    def advance(st, rows):
        import pandas as pd  # local import: runs on executors

        cur_v, version, run_from, run_n = st
        out = []
        for t, _b, v in sorted(rows, key=lambda r: (r[0], r[1])):
            v = None if pd.isna(v) else v
            if version == 0:
                version, cur_v, run_from, run_n = 1, v, int(t), 1
            elif (v is None and cur_v is None) or v == cur_v:
                run_n += 1
            else:
                out.append((version, cur_v, run_from, int(t), run_n))
                version += 1
                cur_v, run_from, run_n = v, int(t), 1
        if version:
            out.append((version, cur_v, run_from, None, run_n))
        return (cur_v, version, run_from, run_n), out

    src = _event_rows(stream, key, ts_col, tiebreak_col, F.col(value_col))
    return _keyed_fold(
        src, [key], _EVENT_COLS, (None, 0, None, 0), advance,
        {"version": "bigint", value_col: fields[value_col],
         "valid_from": "bigint", "valid_to": "bigint", "n_events": "bigint"},
        output_mode)


def stream_hll_sliding(
    stream: DataFrame,
    ts_col: str,
    item_col,
    bucket_us: int,
    store_dir: str,
    checkpoint_dir: str,
    p: int = 12,
):
    """Sliding-window distinct counts over an unbounded stream, the
    sketch-reuse way: each micro-batch folds its events into per-bucket
    HLL registers (batch-local groupBy-max — ≤ #buckets × 2^p rows) and
    APPENDS them to a persistent register store.  Register max is
    monotone, so the append-only store needs no read-modify-write, no
    dedup, and is idempotent under micro-batch replay: stray lower-rank
    rows from a re-delivered batch are absorbed by the max at read time.
    Any consumer turns the store into sliding estimates with
    :func:`hll_sliding_snapshot` — merging k bucket sketches per window,
    never rescanning events (the batch twin is
    ``sketches.hll_sliding_estimate``; equality is tested).

    State: the streaming query itself is STATELESS (the store is the
    state, bounded by buckets × 2^p); at cluster scale the store would
    be a Delta/Iceberg table compacted periodically with the same
    groupBy-max."""
    from map_reduce_folds_spark.operators.sketches import hll_register
    from map_reduce_folds_spark.timeutil import epoch_us

    reg, rank = hll_register(item_col, p)
    eus = epoch_us(F.col(ts_col))
    bucket = ((eus - eus % F.lit(int(bucket_us))) / F.lit(int(bucket_us))) \
        .cast("bigint")

    def _append(df: DataFrame, batch_id: int):
        (
            df.select(bucket.alias("__bkt"), reg, rank)
            .groupBy("__bkt", "reg").agg(F.max("rank").alias("rank"))
            .write.mode("append").parquet(store_dir)
        )

    return write_foreach_batch(stream, _append, checkpoint_dir)


def hll_sliding_snapshot(
    spark,
    store_dir: str,
    bucket_us: int,
    k: int,
    p: int = 12,
) -> DataFrame:
    """Sliding distinct-count estimates from a :func:`stream_hll_sliding`
    register store: compact the appended register rows (groupBy-max)
    and merge each window's k bucket sketches
    (``sketches.hll_registers_sliding_estimate``).  Output
    ``(win_start_us, nd_est)`` — bitwise-equal to the batch
    ``hll_sliding_estimate`` over the same events."""
    from map_reduce_folds_spark.operators.sketches import (
        hll_registers_sliding_estimate,
    )

    sk = spark.read.parquet(store_dir) \
        .groupBy("__bkt", "reg").agg(F.max("rank").alias("rank"))
    return hll_registers_sliding_estimate(sk, bucket_us, k, p=p)


def stream_cusum(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    target_cents: int,
    alarm_cents: int,
    tiebreak_col: str | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming CUSUM drift detection: the incremental twin of
    ``windows.cusum_per_key`` — state is FOUR integers per key (count,
    current s, max s, alarm count) at any event volume.  Each
    micro-batch folds its rows in (ts, tiebreak) event-time order
    through the same all-integer clamp recurrence
    ``s ← max(0, s + (x − target))`` (the batch operator evaluates the
    closed-form prefix windows; the recurrence and the closed form are
    property-tested equal), so a time-ordered replay is EXACTLY equal
    to the batch operator — integer state, no rounding to argue about.
    Cross-batch arrival order as in the module docstring."""
    k_, h_ = int(target_cents), int(alarm_cents)

    def advance(st, rows):
        n, s, mx, a = st
        for _t, _b, x in sorted(rows):
            ns = max(0, s + (int(x) - k_))
            if s <= h_ < ns:
                a += 1
            mx = max(mx, ns)
            s = ns
            n += 1
        return (n, s, mx, a), [(n, s, mx, a)]

    src = _event_rows(
        stream, key, ts_col, tiebreak_col,
        (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint"))
    return _keyed_fold(
        src, [key], _EVENT_COLS, (0, 0, 0, 0), advance,
        {"n_events": "bigint", "final_cusum": "bigint", "max_cusum": "bigint",
         "n_alarms": "bigint"}, output_mode)


def stream_nb_score(
    stream: DataFrame,
    model,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
):
    """Model-scoring stream: classify each arriving document batch under
    a PRE-FITTED Naive Bayes model (``quality.nb_fit``) and append
    ``(id, pred, score)`` to ``out_dir`` — the trained quality/domain
    gate applied at ingest time instead of as a later batch pass.

    Scoring is per-document (no cross-batch state), so per-micro-batch
    application of the batch operator is EXACT, not an approximation:
    stream output over any batch split equals the batch scores row for
    row (pinned in tests).  The model relations are bounded (≤ B·K +
    K rows, ``nb_fit``), i.e. exactly the shape that broadcasts to
    every executor on a real cluster; the corpus never re-shuffles into
    model lineage."""
    from map_reduce_folds_spark.operators.quality import nb_score

    def process(df: DataFrame, batch_id: int):
        nb_score(df, model, id_col, text_col, n_buckets, alpha) \
            .write.mode("append").parquet(out_dir)

    return write_foreach_batch(stream, process, checkpoint_dir)


def stream_kmeans_assign(
    stream: DataFrame,
    centroids: "list[list[float]]",
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Cluster-assignment stream under a PRE-FITTED k-means model
    (``similarity.kmeans_fit_distributed``): each arriving vector batch
    is assigned to its nearest centroid and ``(id, cid)`` appends to
    ``out_dir`` — routing fresh embeddings into an existing IVF/cluster
    layout at ingest time.  Per-vector assignment has no cross-batch
    state, so per-micro-batch application of the batch rule is EXACT
    (the batch operator ``similarity.kmeans_assign`` applied verbatim
    per micro-batch); the model is a K×dim literal table — nothing
    shuffles."""
    from ..operators.similarity import kmeans_assign

    def process(df: DataFrame, batch_id: int):
        kmeans_assign(df, centroids, id_col, vec_col) \
            .write.mode("append").parquet(out_dir)

    return write_foreach_batch(stream, process, checkpoint_dir)


def stream_pca_score(
    stream: DataFrame,
    components: "list[list[float]]",
    means: "list[float]",
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """PCA outlier-scoring stream under a PRE-FITTED model
    (``similarity.pca_power_fit`` + ``pca_means``): each arriving
    vector batch is scored with its residual energy outside the fitted
    subspace and ``(id, resid)`` appends to ``out_dir`` — the
    off-manifold anomaly gate applied AT INGEST, next to
    ``stream_kmeans_assign`` and ``stream_nb_score`` in the
    trained-model-on-a-stream family.  Per-vector scoring has no
    cross-batch state, so per-micro-batch application of the batch
    operator (``similarity.pca_residual_scores``, applied verbatim) is
    EXACT; the model is a K×dim + dim literal set — nothing
    shuffles."""
    from ..operators.similarity import pca_residual_scores

    def process(df: DataFrame, batch_id: int):
        pca_residual_scores(df, components, means, id_col, vec_col) \
            .write.mode("append").parquet(out_dir)

    return write_foreach_batch(stream, process, checkpoint_dir)


def stream_holtwinters(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    period: int,
    tiebreak_col: str | None = None,
    alpha_halves: int = 2,
    beta_halves: int = 2,
    gamma_halves: int = 2,
    horizon: int = 1,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming per-key HOLT-WINTERS additive smoothing: the
    incremental twin of ``windows.holtwinters_last`` — state is
    ``2 + period`` doubles per key (count, level, trend, seasonal
    slots) at any event volume.  Each micro-batch folds its rows in
    (ts, tiebreak) event-time order through the identical zero-seeded /
    expanded-trend / power-of-two contract recursion, so a time-ordered
    replay is BITWISE equal to the batch operator (parity-tested),
    emitting the rolling seasonal forecast per key per micro-batch.
    Cross-batch arrival order as in the module docstring."""
    if min(alpha_halves, beta_halves, gamma_halves) < 1:
        raise ValueError("alpha/beta/gamma halves must be >= 1")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    alpha = 1.0 / (1 << alpha_halves)
    beta = 1.0 / (1 << beta_halves)
    gamma = 1.0 / (1 << gamma_halves)
    m, h = period, horizon

    def advance(st, rows):
        n, lv, tr, s = st
        for _t, _b, x in sorted(rows):
            x = float(x)
            if n == 0:
                lv, tr = x, 0.0
            else:
                j = n % m
                sj = s[j]
                nl = alpha * (x - sj) + (1 - alpha) * (lv + tr)
                ntr = (beta * (alpha * ((x - sj) - lv) + (1 - alpha) * tr)
                       + (1 - beta) * tr)
                s[j] = gamma * (x - nl) + (1 - gamma) * sj
                lv, tr = nl, ntr
            n += 1
        sn = s[(n + h - 1) % m]
        return (n, lv, tr, s), [(n, lv, tr, sn, (lv + float(h) * tr) + sn)]

    src = _event_rows(stream, key, ts_col, tiebreak_col,
                      F.col(value_col).cast("double"))
    return _keyed_fold(
        src, [key], _EVENT_COLS, (0, 0.0, 0.0, [0.0] * m), advance,
        {"n_events": "bigint", "level": "double", "trend": "double",
         "season_next": "double", "forecast": "double"}, output_mode)


def stream_bootstrap_moments(
    stream: DataFrame,
    value_col: str,
    id_col: str,
    out_dir: str,
    checkpoint_dir: str,
    keys=(),
    n_boot: int = 200,
    salt: str = "boot",
):
    """INCREMENTAL-INFERENCE stream: append each arriving micro-batch's
    Poisson-bootstrap MOMENT relation
    (``sampling.poisson_bootstrap_moments`` — the additive-monoid
    (keys, replicate) weighted sums, base moments on the b = −1
    sentinel) to ``out_dir``.  Because replicate weights are a pure
    function of the row id and integer sums are a monoid, finalizing
    the accumulated directory —
    ``poisson_bootstrap_ci_from_moments(poisson_bootstrap_merge(
    spark.read.parquet(out_dir)))`` — yields BITWISE the whole-corpus
    CI at any point in the stream's life: confidence intervals over an
    ingest stream without ever rescanning history (the digest-table
    ingest pattern applied to statistical inference)."""
    from map_reduce_folds_spark.operators.sampling import (
        poisson_bootstrap_moments,
    )

    def process(df: DataFrame, batch_id: int):
        poisson_bootstrap_moments(
            df, value_col, id_col, keys=keys, n_boot=n_boot, salt=salt,
        ).write.mode("append").parquet(out_dir)

    return write_foreach_batch(stream, process, checkpoint_dir)


def stream_conformal_flag(
    stream: DataFrame,
    threshold_q: "int | None",
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    score_col: str = "qr",
):
    """CALIBRATED-GATE stream: flag each arriving scored batch against a
    PRE-FITTED split-conformal threshold (the ``threshold_q`` order
    statistic from the batch calibration — see
    ``queries.llm.conformal_novelty_gate``) and append
    ``(id, score, flagged)`` to ``out_dir``.  Per-row thresholding has
    no cross-batch state, so micro-batch application of the batch rule
    is EXACT; ``threshold_q=None`` (k > m at calibration: τ = ∞) flags
    nothing — the conservative conformal convention, preserved here by
    an explicit False rather than a NULL comparison."""
    def process(df: DataFrame, batch_id: int):
        flagged = (F.lit(False) if threshold_q is None
                   else F.col(score_col) > F.lit(int(threshold_q)))
        (df.select(id_col, score_col, flagged.alias("flagged"))
         .write.mode("append").parquet(out_dir))

    return write_foreach_batch(stream, process, checkpoint_dir)


def stream_daily_counts(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    keys=(),
):
    """TREND-MONITOR ingest stream: append each arriving micro-batch's
    per-(keys, day) count relation to ``out_dir``.  Counts are an
    additive monoid, so finalizing the accumulated directory — re-sum
    per (keys, day), then ``evalstats.mann_kendall(keys=)`` /
    ``theil_sen`` / the BH-FDR composition — yields BITWISE the batch
    drift screen at any point in the stream's life (the fifth
    mergeable-relation-on-a-stream twin: digest/HLL/moments/bootstrap,
    now daily counts).  The per-batch relation is bounded by
    keys × days touched, not batch rows."""
    kcols = list(keys)

    def process(df: DataFrame, batch_id: int):
        (df.groupBy(*kcols, F.to_date(ts_col).alias("d"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
         .write.mode("append").parquet(out_dir))

    return write_foreach_batch(stream, process, checkpoint_dir)


def daily_counts_finalize(spark, out_dir: str, keys=()):
    """Merge an accumulated ``stream_daily_counts`` directory back to
    the exact whole-history per-(keys, day) counts (pure additive
    union — re-sum)."""
    df = spark.read.parquet(out_dir)
    return (df.groupBy(*list(keys), "d")
            .agg(F.sum("n_events").cast("bigint").alias("n_events")))


def stream_confseq(
    stream: DataFrame,
    key: str,
    success_col: str,
    alpha_permille: int = 50,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming ANYTIME-VALID monitor: the incremental twin of
    ``evalstats.hoeffding_confseq`` — which is the whole point of a
    confidence sequence: its guarantee is time-uniform, so the
    streaming emission after EVERY micro-batch is a valid (1−α) band
    to act on, no stopping rule needed.

    State is TWO exact integers per key (cumulative trials, cumulative
    successes) at any event volume; each micro-batch just adds counts
    (order-free — addition commutes, so unlike the CUSUM/Holt twins
    there is no arrival-order caveat at all).  The stateful part emits
    ONLY the integer state; the rate/radius/lo/hi columns are appended
    by the SAME Spark expression the batch operator ends with
    (``evalstats.confseq_bounds``), so batch and stream agree bitwise
    by construction on equal counts."""
    from ..operators.evalstats import confseq_bounds

    def advance(st, rows):
        # a null success (NaN) adds nothing to s, as a pandas sum skips it
        n, s = st[0] + len(rows), st[1] + sum(int(y) for (y,) in rows if y == y)
        return (n, s), [(n, s)]

    src = stream.select(F.col(key),
                        F.col(success_col).cast("bigint").alias("__y"))
    out = _keyed_fold(src, [key], ["__y"], (0, 0), advance,
                      {"n_cum": "bigint", "s_cum": "bigint"}, output_mode)
    return confseq_bounds(out, alpha_permille=alpha_permille)
