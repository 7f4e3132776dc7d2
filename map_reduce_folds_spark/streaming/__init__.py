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
(``stateful_fold``, ``stream_holt``, ``stream_scd2``, ``stream_cusum``,
``stream_holtwinters``, ``stream_confseq``): each supplies a projection,
an initial state and an ``advance(state, rows) -> (state, out_rows)``
step; the runtime owns the key DDL, the gathering of a key's micro-batch
rows, the state codec and the emitted frames.  The codec is base64 of a
pickle, so a state may hold timestamps, decimals and lists, which JSON
cannot.  ``sessionize_stateful`` keeps its own loop: it is the only
event-time-timeout user.

In-batch order: the event-ordered twins sort a key's micro-batch rows by
(event time, tiebreak) before stepping, so a time-ordered replay equals
the batch operator.  Across micro-batches the state is folded in arrival
order: a late event that arrives in a later micro-batch than its
successors folds into the state as it stands at its arrival batch; the
state its successors built is never re-folded in event-time order (first
writer wins).
"""

from __future__ import annotations

import base64
import os
import pickle
import shutil
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_folds_spark.core import FoldReduce, MapReduce, _key_fields


def read_parquet_stream(
    spark: SparkSession, path: str, schema: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream: replays a parquet directory as micro-batches
    (the fixture-friendly source: every registered stream query reads
    through it)."""
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
    """Drain a (file-replay) stream into an in-memory table and return it:
    the sink of every registered stream query (through
    :func:`replay_to_memory`) and of the streaming tests.  A stream still
    running after ``timeout_s`` seconds is stopped and raises
    ``TimeoutError``: the sink would hold only part of the rows.

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
) -> DataFrame:
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
