"""Streaming parity tests: the same MapReduce spec run (a) as a batch plan
and (b) through Structured Streaming file-replay must agree — the streaming
analog of the reference's engine-vs-oracle differential tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark import Assign, Filter, FoldReduce, MapReduce, Melt, folds
from map_reduce_folds_spark.sources import load_table
from map_reduce_folds_spark.streaming import (
    read_parquet_stream, run_to_memory, session_windows, stream_mapreduce,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="module")
def events_stream_path(spark, events_batch, tmp_path_factory):
    # re-write the fixture as several files so file-replay produces real
    # micro-batches (the driver fixture is a single file)
    p = str(tmp_path_factory.mktemp("events_stream"))
    events_batch.repartition(4).write.mode("overwrite").parquet(p)
    return p


def _spec():
    return MapReduce(
        unpack=Filter("value > 1"),
        assign=Assign(keys={"event_type": "event_type"},
                      values={"v": F.col("value").cast("decimal(12,2)")}),
        reduce=FoldReduce({
            "n": folds.count_(),
            "sum_v": folds.sum_("v").map(lambda c: c.cast("double")),
        }),
    )


def test_windowed_stream_matches_batch(spark, events_batch, events_stream_path):
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=2)
    out = stream_mapreduce(stream, _spec(), ts_col="ts", window="1 hour",
                           watermark="30 days")
    got = run_to_memory(out, "win_agg", timeout_s=120)

    batch = (
        events_batch.filter("value > 1")
        .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_v"))
    )
    g = {(r.window.start, r.event_type): (r.n, r.sum_v) for r in got.collect()}
    b = {(r.window.start, r.event_type): (r.n, r.sum_v) for r in batch.collect()}
    assert g == b


def test_global_key_stream_matches_batch(spark, events_batch, events_stream_path):
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema)
    out = stream_mapreduce(stream, _spec(), ts_col="ts", window=None,
                           watermark="30 days")
    got = run_to_memory(out, "key_agg", timeout_s=120)
    batch = _spec().run(events_batch)
    g = {r.event_type: (r.n, r.sum_v) for r in got.collect()}
    b = {r.event_type: (r.n, r.sum_v) for r in batch.collect()}
    assert g == b


def test_session_window_stream(spark, events_batch, events_stream_path):
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema)
    out = session_windows(
        stream, "ts", ["user_id"], "30 minutes",
        {"n": folds.count_()}, watermark="30 days",
    )
    got = run_to_memory(out, "sess_agg", timeout_s=120)
    # oracle: batch sessionization with the same 30-min gap
    from map_reduce_folds_spark.operators.windows import sessionize

    sess = sessionize(events_batch, "user_id", "ts", 1800)
    batch_counts = sorted(
        (r.user_id, r.n) for r in
        sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    got_counts = sorted((r.user_id, r.n) for r in got.collect())
    assert got_counts == batch_counts


def test_stateful_custom_fold(spark, events_batch, events_stream_path):
    """applyInPandasWithState: a custom (step, init, extract) fold maintained
    incrementally across micro-batches equals the batch fold."""
    from map_reduce_folds_spark import folds as flds
    from map_reduce_folds_spark.streaming import stateful_fold

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=1)
    # running count+sum via a custom fold (state = [n, total_cents])
    fold = flds.fold_from_steps(
        step=lambda acc, v: [acc[0] + 1, acc[1] + int(round(v * 100))],
        init=lambda: [0, 0],
        extract=lambda acc: float(acc[0]) + acc[1] / 1e13,  # pack for 1-col out
        dtype="double",
    )
    out = stateful_fold(stream, ["event_type"], ["value"], fold, "packed")
    got = run_to_memory(out, "stateful", timeout_s=120, output_mode="update")
    # update mode: several rows per key (one per touched micro-batch);
    # counts are monotone -> final state = max
    import collections
    final: dict = collections.defaultdict(float)
    for r in got.collect():
        final[r.event_type] = max(final[r.event_type], r.packed)
    batch = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    exp = {r.event_type: float(r.n) + r.cents / 1e13 for r in batch.collect()}
    assert dict(final) == exp


def test_sliding_window_stream(spark, events_batch, events_stream_path):
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema)
    out = stream_mapreduce(stream, _spec(), ts_col="ts", window="1 hour",
                           slide="30 minutes", watermark="30 days")
    got = run_to_memory(out, "slide_agg", timeout_s=120)
    batch = (
        events_batch.filter("value > 1")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("window"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_v"))
    )
    g = {(r.window.start, r.event_type): (r.n, r.sum_v) for r in got.collect()}
    b = {(r.window.start, r.event_type): (r.n, r.sum_v) for r in batch.collect()}
    assert g == b


def test_watermark_append_emits_only_finalized_windows(spark, events_batch, tmp_path_factory):
    """Watermark semantics (order-independent form): in append mode every
    emitted window is finalized, its count never exceeds the batch count
    for that window, and the stream's final (max-ts) window — never
    finalized by the watermark — is absent."""
    import os

    p = str(tmp_path_factory.mktemp("late"))
    e = events_batch
    hi = e.orderBy(F.col("ts").desc()).limit(100)
    lo = e.orderBy(F.col("ts").asc()).limit(100)
    hi.coalesce(1).write.parquet(os.path.join(p, "b0"))
    lo.coalesce(1).write.parquet(os.path.join(p, "b1"))
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(p + "/b*")
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("late_agg").trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    both = hi.unionByName(lo)
    batch = {
        r.w.start: r.n
        for r in both.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    emitted = {r.w.start: r.n for r in spark.table("late_agg").collect()}
    assert emitted, "no finalized windows emitted"
    for start, n in emitted.items():
        assert n <= batch[start]
    last_window = max(batch)
    assert last_window not in emitted  # never finalized by the watermark


def test_streaming_melt_unpack(spark, events_batch, events_stream_path):
    """Melt unpack works unchanged on the streaming side (narrow op)."""
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema)
    spec = MapReduce(
        unpack=Melt(F.array(F.col("value"), F.col("value") * 2), alias="y",
                    keep=("ts", "event_type")),
        assign=Assign(keys={"event_type": "event_type"},
                      values={"v": F.col("y").cast("decimal(12,2)")}),
        reduce=FoldReduce({"s": folds.sum_("v").map(lambda c: c.cast("double"))}),
    )
    out = stream_mapreduce(stream, spec, ts_col="ts", watermark="30 days")
    got = {r.event_type: r.s for r in
           run_to_memory(out, "melt_agg", timeout_s=120).collect()}
    batch = (
        events_batch.select("event_type", F.explode(
            F.array(F.col("value"), F.col("value") * 2)).alias("y"))
        .groupBy("event_type")
        .agg(F.sum(F.col("y").cast("decimal(12,2)")).cast("double").alias("s"))
    )
    exp = {r.event_type: r.s for r in batch.collect()}
    assert got == exp


def test_stream_stream_join_matches_batch(spark, events_batch, events_stream_path):
    """Stream-stream bounded-time join == the equivalent batch join."""
    from map_reduce_folds_spark.streaming import stream_stream_join

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    purchases = read_parquet_stream(spark, events_stream_path, schema).filter(
        "event_type = 'purchase'"
    ).select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
    clicks = read_parquet_stream(spark, events_stream_path, schema).filter(
        "event_type = 'click'"
    ).select(F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts"),
             F.col("event_id").alias("c_id"))

    joined = stream_stream_join(
        purchases, clicks.withColumnRenamed("c_uid", "user_id"),
        on="user_id", left_time="p_ts", right_time="c_ts",
        max_delay="30 minutes", watermark="30 days",
    ).select("p_id", "c_id")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ssj").trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    got = {(r.p_id, r.c_id) for r in spark.table("ssj").collect()}

    p = events_batch.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
    c = events_batch.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"))
    exp_df = p.join(
        c,
        (p.user_id == c.c_uid)
        & (F.col("c_ts") >= F.expr("p_ts - INTERVAL 30 minutes"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    exp = {(r.p_id, r.c_id) for r in exp_df.collect()}
    assert got == exp and len(exp) > 0


def test_foreach_batch_sink(spark, events_batch, events_stream_path, tmp_path_factory):
    from map_reduce_folds_spark.streaming import write_foreach_batch

    out_dir = str(tmp_path_factory.mktemp("fb_out"))
    ckpt = str(tmp_path_factory.mktemp("fb_ckpt"))
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=2)

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out_dir)

    q = write_foreach_batch(stream.select("event_id", "event_type"),
                            write_batch, ckpt)
    q.awaitTermination(120)
    q.stop()
    back = spark.read.parquet(out_dir)
    assert back.count() == events_batch.count()
    assert sorted(r.event_id for r in back.collect()) == \
           sorted(r.event_id for r in events_batch.collect())


def test_stream_dedup(spark, events_batch, tmp_path_factory):
    """Redelivered events (same event_id) are emitted exactly once."""
    import os

    from map_reduce_folds_spark.streaming import stream_dedup

    p = str(tmp_path_factory.mktemp("dup_stream"))
    sample = events_batch.limit(200)
    sample.coalesce(1).write.parquet(os.path.join(p, "f0"))
    sample.limit(80).coalesce(1).write.parquet(os.path.join(p, "f1"))  # redelivery
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(p + "/f*")
    )
    out = stream_dedup(stream, ["event_id"], ts_col="ts", watermark="30 days")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("dedup_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    got = [r.event_id for r in spark.table("dedup_stream").collect()]
    assert len(got) == len(set(got)) == 200


def test_stateful_fold_tws(spark, events_batch, events_stream_path):
    """transformWithStateInPandas variant of the stateful fold — same
    batch-equivalence contract as test_stateful_custom_fold.  Skipped when
    google.protobuf (the TWS control channel) is absent."""
    pytest.importorskip("google.protobuf.descriptor",
                        reason="TWS needs protobuf; not in this container")
    from map_reduce_folds_spark import folds as flds
    from map_reduce_folds_spark.streaming import stateful_fold_tws

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=1)
    fold = flds.fold_from_steps(
        step=lambda acc, v: acc + 1,
        init=lambda: 0,
        extract=float,
        dtype="double",
    )
    out = stateful_fold_tws(stream, ["event_type"], ["value"], fold, "n")
    got = run_to_memory(out, "tws_fold", timeout_s=120, output_mode="update")
    import collections
    final: dict = collections.defaultdict(float)
    for r in got.collect():
        final[r.event_type] = max(final[r.event_type], r.n)
    exp = {r.event_type: float(r.cnt) for r in
           events_batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert dict(final) == exp


def test_fold_session_times_state_machine():
    """The pure session fold behind sessionize_tws (runtime-independent):
    batch splits, cross-batch continuation, and the open-state carry."""
    from map_reduce_folds_spark.streaming import _fold_session_times

    gap = 60_000_000  # 60 s in µs
    s = lambda sec: sec * 1_000_000
    # one batch, two sessions
    closed, open_ = _fold_session_times(
        [s(0), s(10), s(20), s(2000), s(2010)], None, gap)
    assert closed == [(s(0), s(20), 3)]
    assert open_ == (s(2000), s(2010), 2)
    # continuation: next batch extends the open session
    closed, open_ = _fold_session_times([s(2050)], open_, gap)
    assert closed == [] and open_ == (s(2000), s(2050), 3)
    # next batch past the gap closes it
    closed, open_ = _fold_session_times([s(9000)], open_, gap)
    assert closed == [(s(2000), s(2050), 3)] and open_ == (s(9000), s(9000), 1)
    # empty batch is the identity
    assert _fold_session_times([], open_, gap) == ([], open_)


def test_fold_session_times_batch_split_invariance():
    """Property: however the (sorted) event stream is chopped into
    micro-batches, threading the open-session state through
    _fold_session_times yields EXACTLY the sessions of the one-shot batch
    computation — the correctness core of sessionize_tws, checked without
    the TWS runtime."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_folds_spark.streaming import _fold_session_times

    gap = 100

    def oneshot(times):
        closed, open_ = _fold_session_times(sorted(times), None, gap)
        return closed + ([open_] if open_[0] is not None else [])

    @settings(max_examples=200, deadline=None)
    @given(
        times=st.lists(st.integers(min_value=0, max_value=5000), min_size=0,
                       max_size=60),
        cuts=st.lists(st.integers(min_value=0, max_value=60), max_size=5),
    )
    def check(times, cuts):
        ts = sorted(times)
        bounds = sorted({min(c, len(ts)) for c in cuts} | {0, len(ts)})
        state, closed = None, []
        for lo, hi in zip(bounds, bounds[1:]):
            c, state = _fold_session_times(ts[lo:hi], state, gap)
            closed.extend(c)
        if state is not None and state[0] is not None:
            closed.append(state)
        assert closed == oneshot(ts)

    check()


def test_sessionize_tws_timer_close(spark, tmp_path_factory):
    """Timer-based session emission: synthetic two-batch replay where batch
    1 carries two sessions per key (one closed in-batch by the gap rule,
    one left open) and batch 2 is a single far-future event that advances
    the watermark past every batch-1 timer — so the open sessions close by
    TIMER.  Expected sessions come from the batch sessionizer on the same
    data (streaming analog of the engine-vs-oracle differential)."""
    pytest.importorskip("google.protobuf.descriptor",
                        reason="TWS needs protobuf; not in this container")
    import datetime as dt

    from map_reduce_folds_spark.streaming import sessionize_tws

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(uid, sec):
        return (uid, base + dt.timedelta(seconds=sec))

    # user 1: events 0,10,20 | gap | 2000,2010  →  2 sessions
    # user 2: events 5,25    →  1 session
    batch1 = [ev(1, 0), ev(1, 10), ev(1, 20), ev(1, 2000), ev(1, 2010),
              ev(2, 5), ev(2, 25)]
    batch2 = [ev(99, 10**6)]  # watermark mover only
    schema = "user_id bigint, ts timestamp"
    p = str(tmp_path_factory.mktemp("sess_tws"))
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(p)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(p)

    stream = (
        read_parquet_stream(spark, p, schema, max_files_per_trigger=1)
        .withWatermark("ts", "0 seconds")
    )
    out = sessionize_tws(stream, ["user_id"], "ts", gap_seconds=60)
    got = run_to_memory(out, "sess_tws", timeout_s=120, output_mode="append")
    rows = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in got.collect() if r.user_id != 99}

    us = lambda sec: int((base + dt.timedelta(seconds=sec)).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    expected = {
        (1, us(0), us(20), 3),
        (1, us(2000), us(2010), 2),
        (2, us(5), us(25), 2),
    }
    assert rows == expected


def test_sessionize_stateful_timer_close(spark, tmp_path_factory):
    """End-to-end timer-based session close ON THE RUNNABLE GroupState API
    (sessionize_tws's twin — same _fold_session_times core, same two-batch
    replay shape as the TWS test, but executable in this container):
    batch 1 sessions close in-batch (gap rule) or by event-time TIMEOUT
    once batch 2's far-future event advances the watermark."""
    import datetime as dt

    from map_reduce_folds_spark.streaming import sessionize_stateful

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(uid, sec):
        return (uid, base + dt.timedelta(seconds=sec))

    batch1 = [ev(1, 0), ev(1, 10), ev(1, 20), ev(1, 2000), ev(1, 2010),
              ev(2, 5), ev(2, 25)]
    batch2 = [ev(99, 10**6)]  # watermark mover only
    schema = "user_id bigint, ts timestamp"
    p = str(tmp_path_factory.mktemp("sess_gs"))
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(p)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(p)

    stream = (
        read_parquet_stream(spark, p, schema, max_files_per_trigger=1)
        .withWatermark("ts", "0 seconds")
    )
    out = sessionize_stateful(stream, ["user_id"], "ts", gap_seconds=60)
    got = run_to_memory(out, "sess_gs", timeout_s=120, output_mode="append")
    rows = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in got.collect() if r.user_id != 99}

    us = lambda sec: int((base + dt.timedelta(seconds=sec)).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    expected = {
        (1, us(0), us(20), 3),      # closed in-batch by the 2000s event
        (1, us(2000), us(2010), 2),  # closed by timeout
        (2, us(5), us(25), 2),       # closed by timeout
    }
    assert rows == expected


def test_incremental_dedup_across_runs(spark, events_batch, tmp_path_factory):
    """Digest-table dedup survives across SEPARATE streaming runs (not just
    within one query's checkpoint): a second run replaying overlapping data
    adds only the genuinely-new rows."""
    import os

    from map_reduce_folds_spark.streaming import incremental_dedup

    base = str(tmp_path_factory.mktemp("incdedup"))
    in1, in2 = os.path.join(base, "in1"), os.path.join(base, "in2")
    seen, out = os.path.join(base, "seen"), os.path.join(base, "out")
    sample = events_batch.limit(300)
    sample.limit(200).coalesce(1).write.parquet(os.path.join(in1, "f0"))
    # second run: 100 redelivered + 100 new
    sample.filter("event_id IS NOT NULL").exceptAll(sample.limit(100)) \
        .coalesce(1).write.parquet(os.path.join(in2, "f0"))
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")

    for i, src in enumerate((in1, in2)):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
        q = incremental_dedup(stream, ["event_id"], seen, out,
                              os.path.join(base, f"ckpt{i}"))
        q.awaitTermination(120)
        q.stop()

    got = [r.event_id for r in spark.read.parquet(out).collect()]
    assert len(got) == len(set(got)) == 300
    assert spark.read.parquet(seen).count() == 300


def test_stream_cms_matches_batch_sketch(spark, events_batch, events_stream_path):
    """Streaming CMS cells after draining the stream must equal the batch
    sketch over the same rows (sketch additivity = batch-split
    invariance), and the resulting hot-key estimates must match."""
    from map_reduce_folds_spark.operators import sketches as K
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, run_to_memory, stream_cms_cells,
    )

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = read_parquet_stream(spark, events_stream_path, schema)
    cells_stream = stream_cms_cells(stream.select(
        F.col("user_id").cast("string").alias("item")), "item", d=4, w=256)
    got = {(r["r"], r["c"]): r["cnt"]
           for r in run_to_memory(cells_stream, "cms_cells",
                                  timeout_s=120).collect()}
    items = events_batch.select(
        F.col("user_id").cast("string").alias("item"))
    want = {(r["r"], r["c"]): r["cnt"]
            for r in K.cms_cells(items, "item", d=4, w=256).collect()}
    assert got == want
    # estimates off the streamed cells: overcount-only vs exact counts
    cells_df = spark.table("cms_cells")
    est = {r["item"]: r["est"]
           for r in K.cms_estimate(cells_df, items.distinct(), "item",
                                   d=4, w=256).collect()}
    true = {r["item"]: r["n"] for r in items.groupBy("item")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(est[k] >= n for k, n in true.items())


def test_stream_static_interval_join_attribution(spark, events_batch,
                                                 events_stream_path):
    """interval_join's bucketized form composes with Structured Streaming
    unchanged: a CLICK STREAM attributed against static purchase windows
    (stream-static equi-join on (user, bucket) + containment) must equal
    the batch interval join over the same rows."""
    from map_reduce_folds_spark.operators.relational import interval_join
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, run_to_memory,
    )
    from map_reduce_folds_spark.timeutil import to_utc_timestamp

    purchases = events_batch.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        to_utc_timestamp("ts").alias("w_s"),
        (to_utc_timestamp("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_e"),
    ).cache()

    def clicks_of(df):
        return df.filter("event_type = 'click'").select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("c_ts"))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = read_parquet_stream(spark, events_stream_path, schema)
    j = interval_join(clicks_of(stream), purchases, "c_ts", "w_s", "w_e",
                      on="user_id", bucket_width=1800.0) \
        .select("click_id", "purchase_id")
    got = {(r["click_id"], r["purchase_id"])
           for r in run_to_memory(j, "stream_ij",
                                  output_mode="append").collect()}
    want = {(r["click_id"], r["purchase_id"])
            for r in interval_join(clicks_of(events_batch), purchases,
                                   "c_ts", "w_s", "w_e", on="user_id",
                                   bucket_width=1800.0)
            .select("click_id", "purchase_id").collect()}
    assert got == want and got


def test_sliding_window_stream_matches_batch(spark, events_batch, events_stream_path):
    """Hopping windows (slide < width) through the SAME MapReduce spec:
    streaming result equals the batch sliding-window aggregation — every
    event counted once per overlapping window."""
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=2)
    out = stream_mapreduce(stream, _spec(), ts_col="ts", window="1 hour",
                           slide="15 minutes", watermark="30 days")
    got = run_to_memory(out, "slide_agg", timeout_s=120)

    batch = (
        events_batch.filter("value > 1")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("window"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_v"))
    )
    g = {(r.window.start, r.event_type): (r.n, r.sum_v) for r in got.collect()}
    b = {(r.window.start, r.event_type): (r.n, r.sum_v) for r in batch.collect()}
    assert g == b
    # 4 overlapping windows per tumbling bucket: strictly more window rows
    assert len(g) > 3 * len({k for k in b if k[0].minute == 0})


def test_bloom_prune_applies_to_streams(spark, events_batch, events_stream_path):
    """The bloom membership predicate is a pure scan filter, so it prunes
    a readStream source exactly like a batch scan — the stream-static
    semi-join reduction (the dim mask rides the closure; no stateful op)."""
    from map_reduce_folds_spark.operators import sketches as K

    dim = events_batch.filter("user_id < 5").select("user_id").distinct()
    mask = K.bloom_mask(K.bloom_bits(dim, "user_id", n_bits=1 << 14), 1 << 14)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema)
    pruned = stream.where(
        K.bloom_might_contain("user_id", mask, 1 << 14))
    got = run_to_memory(pruned.groupBy("user_id").count(),
                        "bloom_stream", timeout_s=120)

    members = {r["user_id"] for r in dim.collect()}
    streamed = {r["user_id"] for r in got.collect()}
    # no false negatives: every member user's events survive the prune
    assert members <= streamed
    # and the prune actually prunes (false positives only)
    all_users = events_batch.select("user_id").distinct().count()
    assert len(streamed) < all_users


def test_stream_hll_windowed_matches_batch_buckets(
        spark, events_batch, events_stream_path):
    """Windowed streaming HLL registers equal the batch per-bucket
    sketch cell-for-cell, so per-window estimates equal the batch
    bucket estimates (the hll_sliding_estimate building block, with
    watermark-bounded state)."""
    from map_reduce_folds_spark.operators.sketches import (
        hll_estimate, hll_sketch,
    )
    from map_reduce_folds_spark.streaming import stream_hll_windowed
    from map_reduce_folds_spark.timeutil import epoch_us

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=2)
    item = F.col("user_id").cast("string")
    got = run_to_memory(
        stream_hll_windowed(stream, "ts", item, window="1 hour",
                            watermark="100 days"),
        "hll_win_stream", timeout_s=120)
    g = {(r["win"]["start"], r["reg"], r["rank"]) for r in got.collect()}

    hour_us = 3_600_000_000
    eus = epoch_us(F.col("ts"))
    bucket = ((eus - eus % F.lit(hour_us)) / F.lit(hour_us)).cast("bigint")
    batch = hll_sketch(events_batch.withColumn("__b", bucket), item, ["__b"])
    from datetime import datetime, timezone

    b = {(datetime.fromtimestamp(r["__b"] * 3600, tz=timezone.utc)
          .replace(tzinfo=None), r["reg"], r["rank"])
         for r in batch.collect()}
    assert g == b
    # and the per-window estimates agree with batch per-bucket estimates
    est_s = {r["win"]: r["e"] for r in got.groupBy("win")
             .agg(hll_estimate().alias("e")).collect()}
    assert len(est_s) >= 2 and all(v > 0 for v in est_s.values())


def test_stream_hll_registers_match_batch(spark, events_batch, events_stream_path):
    """Streaming HLL registers equal the batch sketch cell-for-cell, so
    any snapshot estimate equals the batch estimate."""
    from map_reduce_folds_spark.operators.sketches import (
        hll_estimate, hll_sketch,
    )
    from map_reduce_folds_spark.streaming import stream_hll_registers

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=2)
    item = F.col("event_id").cast("string")
    got = run_to_memory(stream_hll_registers(stream, item),
                        "hll_stream", timeout_s=120)
    batch = hll_sketch(events_batch, item, [])
    g = {(r["reg"], r["rank"]) for r in got.collect()}
    b = {(r["reg"], r["rank"]) for r in batch.collect()}
    assert g == b
    est_s = got.agg(hll_estimate().alias("e")).collect()[0]["e"]
    est_b = batch.agg(hll_estimate().alias("e")).collect()[0]["e"]
    n = events_batch.select("event_id").distinct().count()
    assert est_s == est_b
    assert abs(est_s - n) / n < 0.1


def test_stream_funnel_matches_batch(spark, events_batch, tmp_path_factory):
    """Update-mode streaming funnel: the LAST emitted depth per user over
    a time-ordered replay equals the batch funnel — state is two ints
    per user, arrival order within each micro-batch is handled by the
    in-batch event-time sort."""
    from map_reduce_folds_spark.operators import windows as W
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_funnel_depth,
    )

    p = str(tmp_path_factory.mktemp("events_funnel_stream"))
    # one file: the whole replay is a single time-ordered micro-batch
    # (multi-file replays process files in arbitrary order)
    events_batch.coalesce(1).write.mode("overwrite").parquet(p)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = read_parquet_stream(spark, p, schema)
    out = stream_funnel_depth(stream, "user_id", "ts", "event_type",
                              ["view", "click", "purchase"])
    got_tbl = run_to_memory(out, "funnel_stream", timeout_s=120,
                            output_mode="update")
    got = {r["user_id"]: r["depth"] for r in got_tbl.collect()}

    batch = W.funnel_depth(events_batch, "user_id", "ts", "event_type",
                           ["view", "click", "purchase"],
                           tiebreak_col="event_id")
    # the streaming op only sees users WITH step events (steps-only
    # filter); depth-0 restores are a batch-side join concern
    want = {r["user_id"]: r["depth"] for r in batch.collect()
            if r["depth"] > 0 or got.get(r["user_id"]) is not None}
    for u, d in got.items():
        assert want[u] == d


def test_stream_funnel_state_carries_across_batches(spark, tmp_path_factory):
    """Cross-batch state: early events in batch 1, the completing steps
    in batch 2 — the final depth must reflect BOTH."""
    from datetime import datetime

    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_funnel_depth,
    )

    p = str(tmp_path_factory.mktemp("funnel_two_phase"))
    cols = ["event_id", "ts", "user_id", "event_type"]
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0), 1, "view"),
         (2, datetime(2024, 1, 1, 1), 1, "click"),
         (3, datetime(2024, 1, 1, 0), 2, "view")], cols)
    late = spark.createDataFrame(
        [(4, datetime(2024, 1, 2, 0), 1, "purchase"),
         (5, datetime(2024, 1, 2, 1), 2, "click")], cols)
    # one file per phase: each phase is exactly one time-ordered
    # micro-batch (multi-file phases replay in arbitrary file order)
    early.coalesce(1).write.mode("overwrite").parquet(p)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    stream = read_parquet_stream(spark, p, schema)
    out = stream_funnel_depth(stream, "user_id", "ts", "event_type",
                              ["view", "click", "purchase"])
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("funnel_two_phase").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("funnel_two_phase").collect()
    last = {}
    for r in rows:  # update mode: keep the LAST emission per user
        last[r["user_id"]] = r["depth"]
    assert last == {1: 3, 2: 2}


def test_stream_funnel_within_horizon(spark, tmp_path_factory):
    """within=: a step landing after the horizon does not advance the
    streaming state (parity with the batch within= semantics)."""
    from datetime import datetime

    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_funnel_depth,
    )

    p = str(tmp_path_factory.mktemp("funnel_within"))
    cols = ["event_id", "ts", "user_id", "event_type"]
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0), 1, "view"),
         (2, datetime(2024, 1, 3, 0), 1, "click"),      # 48h later: too late
         (3, datetime(2024, 1, 1, 0), 2, "view"),
         (4, datetime(2024, 1, 1, 12), 2, "click")],    # 12h: in horizon
        cols).coalesce(1).write.mode("overwrite").parquet(p)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    stream = read_parquet_stream(spark, p, schema)
    out = stream_funnel_depth(stream, "user_id", "ts", "event_type",
                              ["view", "click", "purchase"],
                              within=24 * 3600 * 1_000_000)
    got_tbl = run_to_memory(out, "funnel_within", timeout_s=120,
                            output_mode="update")
    got = {r["user_id"]: r["depth"] for r in got_tbl.collect()}
    assert got == {1: 1, 2: 2}


def test_stream_ewma_matches_batch_and_carries_state(
        spark, tmp_path_factory):
    """Streaming EWMA over a time-ordered two-phase replay: the LAST
    emission per key is BITWISE equal to the batch ewma_last on the
    union (power-of-two decay, order-pinned fold) — including a key
    whose state carries across the batch boundary."""
    from datetime import datetime

    from map_reduce_folds_spark.operators.windows import ewma_last
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_ewma,
    )

    p = str(tmp_path_factory.mktemp("ewma_stream"))
    cols = ["eid", "ts", "k", "v"]
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 8.0),
         (2, datetime(2024, 1, 2), 1, 4.0),
         (3, datetime(2024, 1, 1), 2, 5.0)], cols)
    late = spark.createDataFrame(
        [(4, datetime(2024, 1, 3), 1, 2.0),
         (5, datetime(2024, 1, 2), 2, 7.5)], cols)
    early.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, k bigint, v double")
    out = stream_ewma(stream, "k", "ts", "v", tiebreak_col="eid")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("ewma_stream").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {}
    for r in spark.table("ewma_stream").collect():
        last[r["k"]] = (r["n_events"], r["ewma"])
    batch = {r["k"]: (r["n_events"], r["ewma"])
             for r in ewma_last(early.union(late), "k", "ts", "v",
                                tiebreak_col="eid").collect()}
    assert last == batch
    assert last[1] == (3, 4.0)          # 8 -> 6 -> 4, exact


def test_stream_scd2_matches_batch_and_carries_runs(spark, tmp_path_factory):
    """Streaming SCD2: last emission per (key, version) over a
    time-ordered two-phase replay equals the batch scd2_history —
    including a run that CONTINUES across the batch boundary."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_scd2,
    )
    from map_reduce_folds_spark.timeutil import epoch_us
    from pyspark.sql import functions as F

    p = str(tmp_path_factory.mktemp("scd2_stream"))
    cols = ["eid", "ts", "k", "v"]
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, "a"),
         (2, datetime(2024, 1, 2), 1, "a"),
         (3, datetime(2024, 1, 3), 1, "b"),
         (4, datetime(2024, 1, 1), 2, "x")], cols)
    late = spark.createDataFrame(
        [(5, datetime(2024, 1, 4), 1, "b"),      # run 2 of key 1 continues
         (6, datetime(2024, 1, 5), 1, "a"),      # then changes back
         (7, datetime(2024, 1, 2), 2, "x")], cols)
    early.coalesce(1).write.mode("overwrite").parquet(p)

    schema = "eid bigint, ts timestamp, k bigint, v string"
    stream = read_parquet_stream(spark, p, schema)
    out = stream_scd2(stream, "k", "ts", "v", tiebreak_col="eid")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("scd2_stream").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {}
    for r in spark.table("scd2_stream").collect():
        last[(r["k"], r["version"])] = (
            r["v"], r["valid_from"], r["valid_to"], r["n_events"])

    batch = W.scd2_history(
        early.union(late), "k", "ts", "v", tiebreak_col="eid"
    ).select(
        "k", "version", "v",
        epoch_us(F.col("valid_from")).alias("vf"),
        epoch_us(F.col("valid_to")).alias("vt"),
        "n_events",
    )
    want = {(r["k"], r["version"]): (r["v"], r["vf"], r["vt"], r["n_events"])
            for r in batch.collect()}
    assert last == want


def test_stream_funnel_out_of_order_replay_ignores_late_predecessor(
        spark, tmp_path_factory):
    """Deliberately OUT-OF-ORDER replay pinning the documented
    arrival-order caveat (not just single-file fixtures): a successor
    step ('click') arrives in batch 1, its predecessor ('view', with an
    EARLIER event time) in batch 2.  The greedy state never re-examines
    the already-seen click — the late view advances depth to 1, NOT the
    batch answer of 2 over the time-ordered union."""
    from datetime import datetime

    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_funnel_depth,
    )

    p = str(tmp_path_factory.mktemp("funnel_out_of_order"))
    cols = ["eid", "ts", "uid", "et"]
    first = spark.createDataFrame(
        [(2, datetime(2024, 1, 2), 1, "click")], cols)   # successor first
    late = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, "view")], cols)    # predecessor late
    first.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, uid bigint, et string")
    out = stream_funnel_depth(stream, "uid", "ts", "et",
                              ["view", "click", "purchase"],
                              tiebreak_col="eid")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("funnel_out_of_order").start())
    try:
        q.processAllAvailable()
        after_b1 = {r["uid"]: r["depth"]
                    for r in spark.table("funnel_out_of_order").collect()}
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    # batch 1: the lone click cannot advance past step 1 → depth 0
    assert after_b1 == {1: 0}
    last = {}
    for r in spark.table("funnel_out_of_order").collect():
        last[r["uid"]] = r["depth"]
    # documented semantics: late predecessors are ignored by the greedy
    # state — depth 1 (view matched), never 2 (the batch answer)
    assert last == {1: 1}


def test_stream_scd2_out_of_order_replay_folds_into_open_run(
        spark, tmp_path_factory):
    """Deliberately OUT-OF-ORDER replay pinning stream_scd2's documented
    caveat: a cross-batch late event folds into the run OPEN AT ITS
    ARRIVAL batch.  Batch 1 establishes runs a→b for key 1; a late 'a'
    with an event time between them closes the open 'b' run (valid_to =
    the late event's earlier time) and opens version 3 — the streaming
    answer differs from the batch answer over the time-ordered union by
    construction, and that difference is the pinned semantics."""
    from datetime import datetime

    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_scd2,
    )

    us = lambda *a: int(  # noqa: E731 — local literal helper
        (datetime(*a) - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    p = str(tmp_path_factory.mktemp("scd2_out_of_order"))
    cols = ["eid", "ts", "k", "v"]
    first = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, "a"),
         (3, datetime(2024, 1, 3), 1, "b")], cols)
    late = spark.createDataFrame(
        [(2, datetime(2024, 1, 2), 1, "a")], cols)       # late predecessor
    first.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, k bigint, v string")
    out = stream_scd2(stream, "k", "ts", "v", tiebreak_col="eid")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("scd2_out_of_order").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {}
    for r in spark.table("scd2_out_of_order").collect():
        last[(r["k"], r["version"])] = (
            r["v"], r["valid_from"], r["valid_to"], r["n_events"])
    assert last == {
        (1, 1): ("a", us(2024, 1, 1), us(2024, 1, 3), 1),
        # the open 'b' run closes AT THE LATE EVENT'S earlier time —
        # valid_to < valid_from is the documented degenerate output for
        # out-of-order arrival, not a bug to mask
        (1, 2): ("b", us(2024, 1, 3), us(2024, 1, 2), 1),
        (1, 3): ("a", us(2024, 1, 2), None, 1),
    }


def test_stream_funnel_ts_tie_matches_batch(spark, tmp_path_factory):
    """Same-timestamp step events fold in batch order — (ts, tiebreak,
    step-index), never event-name lexicography ('click' < 'view' would
    otherwise process the later step first and stall the funnel)."""
    from datetime import datetime

    from map_reduce_folds_spark.operators import windows as W
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_funnel_depth,
    )

    t = datetime(2024, 1, 1)
    cols = ["eid", "ts", "uid", "et"]
    df = spark.createDataFrame(
        [(1, t, 1, "view"), (2, t, 1, "click")], cols)
    p = str(tmp_path_factory.mktemp("funnel_tie"))
    df.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, uid bigint, et string")
    out = stream_funnel_depth(stream, "uid", "ts", "et",
                              ["view", "click", "purchase"],
                              tiebreak_col="eid")
    got = run_to_memory(out, "funnel_tie", timeout_s=120,
                        output_mode="update")
    want = W.funnel_depth(df, "uid", "ts", "et",
                          ["view", "click", "purchase"],
                          tiebreak_col="eid")
    assert {(r["uid"], r["depth"]) for r in got.collect()} == \
        {(r["uid"], r["depth"]) for r in want.collect()} == {(1, 2)}


def test_stream_scd2_timestamp_value_column(spark, tmp_path_factory):
    """value_col may be any type the batch twin accepts — a timestamp
    attribute (the routine SCD2 case) must round-trip through state."""
    from datetime import datetime

    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_scd2,
    )

    cols = ["eid", "ts", "k", "updated_at"]
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, datetime(2020, 5, 1)),
         (2, datetime(2024, 1, 2), 1, datetime(2020, 5, 1)),
         (3, datetime(2024, 1, 3), 1, datetime(2021, 6, 2))], cols)
    p = str(tmp_path_factory.mktemp("scd2_ts_val"))
    df.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p,
        "eid bigint, ts timestamp, k bigint, updated_at timestamp")
    out = stream_scd2(stream, "k", "ts", "updated_at", tiebreak_col="eid")
    got = run_to_memory(out, "scd2_ts_val", timeout_s=120,
                        output_mode="update")
    rows = {(r["k"], r["version"]): (r["updated_at"], r["n_events"])
            for r in got.collect()}
    assert rows == {(1, 1): (datetime(2020, 5, 1), 2),
                    (1, 2): (datetime(2021, 6, 2), 1)}


def test_stream_hll_sliding_store_matches_batch(
        spark, events_batch, events_stream_path, tmp_path):
    """The append-only register store built by stream_hll_sliding over a
    multi-file replay, snapshotted with hll_sliding_snapshot, must equal
    the BATCH hll_sliding_estimate on the same events — bitwise (same
    registers, same merge, same 9-decimal estimate discipline)."""
    from map_reduce_folds_spark.operators.sketches import (
        hll_sliding_estimate,
    )
    from map_reduce_folds_spark.streaming import (
        hll_sliding_snapshot, stream_hll_sliding,
    )

    bucket_us, k, p = 3_600_000_000, 3, 8
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    stream = read_parquet_stream(spark, events_stream_path, schema,
                                 max_files_per_trigger=1)
    store = str(tmp_path / "hll_store")
    q = stream_hll_sliding(stream, "ts", F.col("user_id").cast("string"),
                           bucket_us, store,
                           str(tmp_path / "ckpt"), p=p)
    q.awaitTermination(120)
    # >1 micro-batch actually exercised the cross-batch monotone merge
    assert len([f for f in os.listdir(store)
                if f.endswith(".parquet")]) > 1

    got = {r.win_start_us: r.nd_est
           for r in hll_sliding_snapshot(spark, store, bucket_us, k,
                                         p=p).collect()}
    want = {r.win_start_us: r.nd_est
            for r in hll_sliding_estimate(
                events_batch, "ts", F.col("user_id").cast("string"),
                bucket_us, k, p=p).collect()}
    assert got == want and len(want) > 3


def test_stream_cusum_matches_batch_and_carries_state(
        spark, tmp_path_factory):
    """Streaming CUSUM over a time-ordered two-phase replay: the LAST
    emission per key equals the batch cusum_per_key on the union —
    integer state, including an alarm whose excursion SPANS the batch
    boundary (state carry is what makes it fire)."""
    from datetime import datetime

    from map_reduce_folds_spark.operators.windows import cusum_per_key
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_cusum,
    )

    K, H = 500, 800  # target 5.00, alarm 8.00 (cents)
    p = str(tmp_path_factory.mktemp("cusum_stream"))
    cols = ["eid", "ts", "k", "v"]
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 10.0),   # s = 500
         (2, datetime(2024, 1, 2), 1, 8.0),    # s = 800 (== H, no alarm)
         (3, datetime(2024, 1, 1), 2, 1.0)], cols)   # s = 0 (clamped)
    late = spark.createDataFrame(
        [(4, datetime(2024, 1, 3), 1, 5.5),    # s = 850 > H → alarm fires
         (5, datetime(2024, 1, 2), 2, 20.0)], cols)  # s = 1500 → alarm
    early.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, k bigint, v double")
    out = stream_cusum(stream, "k", "ts", "v", K, H, tiebreak_col="eid")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("cusum_stream").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {}
    for r in spark.table("cusum_stream").collect():
        last[r["k"]] = (r["n_events"], r["final_cusum"], r["max_cusum"],
                        r["n_alarms"])
    batch = {r["k"]: (r["n_events"], r["final_cusum"], r["max_cusum"],
                      r["n_alarms"])
             for r in cusum_per_key(early.union(late), "k", "ts", "v",
                                    K, H, tiebreak_col="eid").collect()}
    assert last == batch
    assert last[1] == (3, 850, 850, 1)  # the cross-batch excursion alarm
    assert last[2] == (2, 1500, 1500, 1)


def test_hll_store_idempotent_under_replay(spark, events_batch, tmp_path):
    """The append-only register store's monotone-max compaction absorbs
    re-delivered batches: appending the ENTIRE store to itself (the
    worst-case duplicate delivery) leaves every snapshot estimate
    unchanged."""
    from map_reduce_folds_spark.operators.sketches import hll_register
    from map_reduce_folds_spark.streaming import hll_sliding_snapshot
    from map_reduce_folds_spark.timeutil import epoch_us

    bucket_us, k, p = 3_600_000_000, 3, 8
    store = str(tmp_path / "store")
    reg, rank = hll_register(F.col("user_id").cast("string"), p)
    eus = epoch_us(F.col("ts"))
    bkt = ((eus - eus % F.lit(bucket_us)) / F.lit(bucket_us)).cast("bigint")
    (events_batch.select(bkt.alias("__bkt"), reg, rank)
     .groupBy("__bkt", "reg").agg(F.max("rank").alias("rank"))
     .write.mode("append").parquet(store))
    before = {r.win_start_us: r.nd_est
              for r in hll_sliding_snapshot(spark, store, bucket_us, k,
                                            p=p).collect()}
    spark.read.parquet(store).write.mode("append").parquet(store)
    after = {r.win_start_us: r.nd_est
             for r in hll_sliding_snapshot(spark, store, bucket_us, k,
                                           p=p).collect()}
    assert after == before and len(before) > 3


def test_stream_nb_score_matches_batch(spark, tmp_path_factory):
    """Scoring a document stream under a pre-fitted NB model must equal
    the batch scores row for row (per-doc scoring has no cross-batch
    state, so micro-batch application is exact — any batch split gives
    identical output)."""
    import os

    from pyspark.sql import functions as F

    from map_reduce_folds_spark.operators import quality as Q
    from map_reduce_folds_spark.sources import load_table
    from map_reduce_folds_spark.streaming import stream_nb_score
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    train = docs.where("doc_id % 2 = 0")
    model = Q.nb_fit(train, "lang", n_buckets=256)
    held = docs.where("doc_id % 2 = 1").select("doc_id", "text")

    base = str(tmp_path_factory.mktemp("nbstream"))
    src = os.path.join(base, "in")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    held.where("doc_id % 4 = 1").coalesce(1).write.parquet(
        os.path.join(src, "f0"))
    held.where("doc_id % 4 = 3").coalesce(1).write.parquet(
        os.path.join(src, "f1"))
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
    out = os.path.join(base, "out")
    q = stream_nb_score(stream, model, out, os.path.join(base, "ckpt"),
                        n_buckets=256, alpha=0.1)
    q.awaitTermination(120)
    q.stop()

    got = {(r.doc_id, r.pred, r.score)
           for r in spark.read.parquet(out).collect()}
    want = {(r.doc_id, r.pred, r.score)
            for r in Q.nb_score(held, model, n_buckets=256,
                                alpha=0.1).collect()}
    assert got == want and len(got) == held.count()


def test_stream_kmeans_assign_matches_batch(spark, tmp_path_factory):
    """Streaming cluster assignment under a pre-fitted model equals the
    batch trainer's own final assignment row for row (same quantization,
    literal-centroid arithmetic, struct-min rule)."""
    import os

    from pyspark.sql import functions as F

    from map_reduce_folds_spark.operators import similarity as S
    from map_reduce_folds_spark.sources import load_table
    from map_reduce_folds_spark.streaming import stream_kmeans_assign
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    km = S.kmeans_fit_distributed(emb, dim=64, k=4, iters=2)
    cents: dict[int, list[float]] = {}
    for r in km.collect():
        cents.setdefault(r.cid, [0.0] * 64)[r.j] = r.c
    centroids = [cents[c] for c in sorted(cents)]

    base = str(tmp_path_factory.mktemp("kmstream"))
    src = os.path.join(base, "in")
    emb.where("vec_id % 2 = 0").select("vec_id", "embedding") \
        .coalesce(1).write.parquet(os.path.join(src, "f0"))
    emb.where("vec_id % 2 = 1").select("vec_id", "embedding") \
        .coalesce(1).write.parquet(os.path.join(src, "f1"))
    stream = (spark.readStream
              .schema("vec_id bigint, embedding array<float>")
              .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
    out = os.path.join(base, "out")
    q = stream_kmeans_assign(stream, centroids, out,
                             os.path.join(base, "ckpt"))
    q.awaitTermination(120)
    q.stop()

    got = {r.vec_id: r.cid for r in spark.read.parquet(out).collect()}
    # batch twin: kmeans_inertia's assignment rule over the same model
    S2 = 1048576.0
    xd = emb.select("vec_id", F.transform(
        "embedding", lambda v: F.floor(
            v.cast("double") * F.lit(S2) + F.lit(0.5)) / F.lit(S2)
    ).alias("xd"))
    cells = []
    for idx, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(v)) for v in c])
        diffs = F.zip_with(F.col("xd"), carr, lambda x, y: (x - y) * (x - y))
        d = F.aggregate(diffs, F.lit(0.0), lambda a, t: a + t)
        cells.append(F.struct(d.alias("d"), F.lit(idx).alias("c")))
    want = {r.vec_id: r.cid for r in xd.select(
        "vec_id", F.array_min(F.array(*cells))["c"].alias("cid")).collect()}
    assert got == want and len(got) == emb.count()


def test_stream_holt_matches_batch_and_carries_state(
        spark, tmp_path_factory):
    """Streaming Holt over a time-ordered two-phase replay: the LAST
    emission per key is BITWISE equal to the batch holt_last on the
    union (power-of-two decays, contract-form trend update, order-
    pinned fold) — including a key whose (level, trend) state carries
    across the micro-batch boundary."""
    from datetime import datetime

    from map_reduce_folds_spark.operators.windows import holt_last
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_holt,
    )

    p = str(tmp_path_factory.mktemp("holt_stream"))
    cols = ["eid", "ts", "k", "v"]
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 8.0),
         (2, datetime(2024, 1, 2), 1, 4.25),
         (3, datetime(2024, 1, 1), 2, 5.0)], cols)
    late = spark.createDataFrame(
        [(4, datetime(2024, 1, 3), 1, 2.5),
         (5, datetime(2024, 1, 4), 1, 11.0),
         (6, datetime(2024, 1, 2), 2, 7.5)], cols)
    early.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, k bigint, v double")
    out = stream_holt(stream, "k", "ts", "v", tiebreak_col="eid",
                      alpha_halves=2, beta_halves=2, horizon=3)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("holt_stream").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {}
    for r in spark.table("holt_stream").collect():
        last[r["k"]] = (r["n_events"], r["level"], r["trend"], r["forecast"])
    batch = {r["k"]: (r["n_events"], r["level"], r["trend"], r["forecast"])
             for r in holt_last(early.union(late), "k", "ts", "v",
                                tiebreak_col="eid", alpha_halves=2,
                                beta_halves=2, horizon=3).collect()}
    assert last == batch
    assert last[1][0] == 4 and last[2][0] == 2


def test_stream_pca_score_matches_batch(spark, tmp_path_factory):
    """Streaming PCA residual scoring under a pre-fitted model equals
    the batch pca_residual_scores row for row (stateless per-vector
    model application — the trained-model-on-a-stream discipline)."""
    import os

    from map_reduce_folds_spark.operators import similarity as S
    from map_reduce_folds_spark.sources import load_table
    from map_reduce_folds_spark.streaming import stream_pca_score
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    moments = S._pca_moments(emb, dim=64)
    comps, _l, _t, _n = S.pca_power_fit(emb, dim=64, n_components=2,
                                        iters=4, moments=moments)
    means = S.pca_means(moments)

    base = str(tmp_path_factory.mktemp("pcastream"))
    src = os.path.join(base, "in")
    emb.where("vec_id % 2 = 0").select("vec_id", "embedding") \
        .coalesce(1).write.parquet(os.path.join(src, "f0"))
    emb.where("vec_id % 2 = 1").select("vec_id", "embedding") \
        .coalesce(1).write.parquet(os.path.join(src, "f1"))
    stream = (spark.readStream
              .schema("vec_id bigint, embedding array<float>")
              .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
    out = os.path.join(base, "out")
    q = stream_pca_score(stream, comps, means, out,
                         os.path.join(base, "ckpt"))
    q.awaitTermination(120)
    q.stop()

    got = {r.vec_id: r.resid for r in spark.read.parquet(out).collect()}
    want = {r.vec_id: r.resid
            for r in S.pca_residual_scores(emb, comps, means).collect()}
    assert got == want and len(got) == emb.count()


def test_stream_holtwinters_matches_batch_across_boundary(
        spark, tmp_path_factory):
    """Streaming Holt-Winters over a time-ordered two-phase replay: the
    LAST emission per key is BITWISE equal to batch holtwinters_last on
    the union — the (level, trend, seasonal-slots) state carries across
    the micro-batch boundary, including a key whose seasonal slot is
    written in batch 1 and read in batch 2."""
    from datetime import datetime

    from map_reduce_folds_spark.operators.windows import holtwinters_last
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_holtwinters,
    )

    p = str(tmp_path_factory.mktemp("hw_stream"))
    cols = ["eid", "ts", "k", "v"]
    early = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 8.0),
         (2, datetime(2024, 1, 2), 1, 4.25),
         (3, datetime(2024, 1, 3), 1, 6.5),
         (4, datetime(2024, 1, 1), 2, 5.0)], cols)
    late = spark.createDataFrame(
        [(5, datetime(2024, 1, 4), 1, 2.5),
         (6, datetime(2024, 1, 5), 1, 11.0),
         (7, datetime(2024, 1, 6), 1, 7.75),
         (8, datetime(2024, 1, 2), 2, 7.5)], cols)
    early.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(
        spark, p, "eid bigint, ts timestamp, k bigint, v double")
    out = stream_holtwinters(stream, "k", "ts", "v", period=3,
                             tiebreak_col="eid", horizon=2)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("hw_stream").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {}
    for r in spark.table("hw_stream").collect():
        last[r["k"]] = (r["n_events"], r["level"], r["trend"],
                        r["season_next"], r["forecast"])
    batch = {r["k"]: (r["n_events"], r["level"], r["trend"],
                      r["season_next"], r["forecast"])
             for r in holtwinters_last(
                 early.unionByName(late), "k", "ts", "v", period=3,
                 tiebreak_col="eid", horizon=2).collect()}
    assert last == batch  # bitwise, doubles included


def test_stream_bootstrap_moments_matches_batch(spark, tmp_path_factory):
    """Bootstrap moment relations accumulated over a two-batch stream,
    merged and finalized, equal the whole-corpus batch CI BITWISE —
    weights are a pure function of the row id and moments are an
    additive monoid, so the stream's split cannot matter."""
    import os

    from map_reduce_folds_spark.operators import sampling as SM
    from map_reduce_folds_spark.sources import load_table
    from map_reduce_folds_spark.streaming import stream_bootstrap_moments
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents") \
        .select("doc_id", "source", "n_chars")
    base = str(tmp_path_factory.mktemp("bootstream"))
    src = os.path.join(base, "in")
    docs.where("doc_id % 2 = 0").coalesce(1).write.parquet(
        os.path.join(src, "f0"))
    docs.where("doc_id % 2 = 1").coalesce(1).write.parquet(
        os.path.join(src, "f1"))
    stream = (spark.readStream
              .schema("doc_id bigint, source string, n_chars bigint")
              .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
    out = os.path.join(base, "moments")
    q = stream_bootstrap_moments(
        stream, "n_chars", "doc_id", out, os.path.join(base, "ckpt"),
        keys=["source"], n_boot=50)
    q.awaitTermination(120)
    q.stop()

    merged = SM.poisson_bootstrap_merge(spark.read.parquet(out))
    got = {r["source"]: r for r in SM.poisson_bootstrap_ci_from_moments(
        merged, keys=["source"]).collect()}
    want = {r["source"]: r for r in SM.poisson_bootstrap_mean_ci(
        docs, "n_chars", "doc_id", keys=["source"], n_boot=50).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k].asDict() == want[k].asDict()


def test_stream_conformal_flag_matches_batch(spark, tmp_path_factory):
    """Streaming application of a fitted conformal threshold equals the
    batch rule row for row, and the tau = infinity convention flags
    nothing."""
    import os

    from map_reduce_folds_spark.streaming import stream_conformal_flag

    scores = spark.range(500).select(
        F.col("id").alias("vec_id"),
        ((F.col("id") * 13) % 997).cast("bigint").alias("qr"))
    base = str(tmp_path_factory.mktemp("confstream"))
    src = os.path.join(base, "in")
    scores.where("vec_id % 2 = 0").coalesce(1).write.parquet(
        os.path.join(src, "f0"))
    scores.where("vec_id % 2 = 1").coalesce(1).write.parquet(
        os.path.join(src, "f1"))

    def run(tau, tag):
        stream = (spark.readStream.schema("vec_id bigint, qr bigint")
                  .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
        out = os.path.join(base, f"out_{tag}")
        q = stream_conformal_flag(stream, tau, out,
                                  os.path.join(base, f"ckpt_{tag}"))
        q.awaitTermination(120)
        q.stop()
        return {(r.vec_id, r.qr, r.flagged)
                for r in spark.read.parquet(out).collect()}

    got = run(800, "t800")
    want = {(r.vec_id, r.qr, r.qr > 800) for r in scores.collect()}
    assert got == want
    none = run(None, "tinf")
    assert all(not f for (_, _, f) in none) and len(none) == 500


def test_stream_daily_counts_drift_matches_batch(spark, tmp_path_factory):
    """Daily-count relations accumulated over a two-batch stream, merged
    and fed to the Mann-Kendall drift screen, equal the whole-history
    batch screen BITWISE — counts are an additive monoid, and the day a
    row lands in is a pure function of its timestamp, so the stream
    split cannot matter (fifth mergeable-relation twin)."""
    import os

    from pyspark.sql import functions as F

    from map_reduce_folds_spark.operators import evalstats as E
    from map_reduce_folds_spark.sources import load_table
    from map_reduce_folds_spark.streaming import (
        daily_counts_finalize,
        stream_daily_counts,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events") \
        .select("event_id", "ts", "event_type")
    base = str(tmp_path_factory.mktemp("dailystream"))
    src = os.path.join(base, "in")
    ev.where("event_id % 2 = 0").coalesce(1).write.parquet(
        os.path.join(src, "f0"))
    ev.where("event_id % 2 = 1").coalesce(1).write.parquet(
        os.path.join(src, "f1"))
    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, event_type string")
              .option("maxFilesPerTrigger", "1").parquet(src + "/f*"))
    out = os.path.join(base, "daily")
    q = stream_daily_counts(stream, out, os.path.join(base, "ckpt"),
                            keys=["event_type"])
    q.awaitTermination(120)
    q.stop()

    merged = daily_counts_finalize(spark, out, keys=["event_type"])
    got = {r["event_type"]: r.asDict() for r in E.mann_kendall(
        merged, "n_events", "d", keys=["event_type"]).collect()}
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    want = {r["event_type"]: r.asDict() for r in E.mann_kendall(
        daily, "n_events", "d", keys=["event_type"]).collect()}
    assert got == want and got


def test_stream_confseq_matches_batch_final_row(spark, tmp_path_factory):
    """Streaming confidence sequence over a two-phase replay: the LAST
    emission per key carries the exact whole-history integer counts,
    and its band columns equal the batch hoeffding_confseq's final
    (max-time) row bitwise — the shared confseq_bounds expression on
    equal integers."""
    from map_reduce_folds_spark.operators.evalstats import (
        hoeffding_confseq)
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, stream_confseq,
    )

    p = str(tmp_path_factory.mktemp("confseq_stream"))
    cols = ["k", "d", "y"]
    early = spark.createDataFrame(
        [(1, 0, 1), (1, 0, 0), (1, 1, 0), (2, 0, 1)], cols)
    late = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 0), (2, 2, 1), (2, 2, 0)], cols)
    early.coalesce(1).write.mode("overwrite").parquet(p)
    stream = read_parquet_stream(spark, p, "k bigint, d bigint, y bigint")
    out = stream_confseq(stream, "k", "y")
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("confseq_stream").start())
    try:
        q.processAllAvailable()
        late.coalesce(1).write.mode("append").parquet(p)
        q.processAllAvailable()
    finally:
        q.stop()
    last = {r["k"]: r for r in spark.table("confseq_stream").collect()
            if r["n_cum"] == max(
                x["n_cum"] for x in spark.table("confseq_stream").collect()
                if x["k"] == r["k"])}
    daily = (early.union(late).groupBy("k", "d")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")))
    batch = {}
    for r in hoeffding_confseq(daily, "d", "n", "s", keys=["k"]).collect():
        cur = batch.get(r["k"])
        if cur is None or r["d"] > cur["d"]:
            batch[r["k"]] = r
    assert set(last) == {1, 2}
    for k in (1, 2):
        for c in ("n_cum", "s_cum", "rate", "radius", "lo", "hi"):
            assert last[k][c] == batch[k][c], (k, c)
    assert (last[1]["n_cum"], last[1]["s_cum"]) == (4, 2)
    assert (last[2]["n_cum"], last[2]["s_cum"]) == (4, 2)


def test_adaptive_state_partitions_rules(spark, tmp_path_factory):
    """The stateful-shuffle sizing rule: rows/chunk, clamped to
    [1, session shuffle partitions]; run_to_memory restores the session
    conf after pinning it for a query."""
    from map_reduce_folds_spark.streaming import (
        adaptive_state_partitions, staged_parquet_rows)

    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert adaptive_state_partitions(spark, 0) == 1
    assert adaptive_state_partitions(spark, 1) == 1
    assert adaptive_state_partitions(spark, 2500) == 1
    assert adaptive_state_partitions(spark, 2501) == min(2, sess)
    assert adaptive_state_partitions(spark, 10 ** 12) == sess

    # footer-only row count over a staged directory
    p = str(tmp_path_factory.mktemp("staged_rows"))
    spark.range(7).write.mode("overwrite").parquet(p + "/a")
    spark.range(5).write.mode("overwrite").parquet(p + "/b")
    import os
    src = p + "/src"
    os.makedirs(src)
    n = 0
    for half in ("a", "b"):
        for f in sorted(os.listdir(p + "/" + half)):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(p, half, f),
                           os.path.join(src, f"{half}_{n}.parquet"))
                n += 1
    assert staged_parquet_rows(src) == 12


def test_run_to_memory_restores_shuffle_partitions(spark, tmp_path_factory):
    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, run_to_memory, stream_confseq)

    p = str(tmp_path_factory.mktemp("rtm_restore"))
    spark.createDataFrame([(1, 1), (1, 0), (2, 1)], ["k", "y"]) \
        .coalesce(1).write.mode("overwrite").parquet(p)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = read_parquet_stream(spark, p, "k bigint, y bigint")
    out = stream_confseq(stream, "k", "y")
    got = run_to_memory(out, "rtm_restore_q", timeout_s=120,
                        output_mode="update", state_partitions=2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    rows = {r["k"]: (r["n_cum"], r["s_cum"]) for r in got.collect()}
    assert rows == {1: (2, 1), 2: (1, 1)}


def test_staged_parquet_rows_directory_shaped(spark, tmp_path):
    """A Spark-written ``x.parquet/`` directory of part files counts by its
    part footers, reached directly or through a symlink in a staged replay
    directory (the sessionize staging shape)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_folds_spark.streaming import staged_parquet_rows

    ev = str(tmp_path / "events.parquet")
    spark.range(23).repartition(3).write.mode("overwrite").parquet(ev)
    assert os.path.isdir(ev)
    assert staged_parquet_rows(ev) == 23
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"id": pa.array([-1], pa.int64())}),
                   str(src / "sentinel_0.parquet"))
    os.symlink(ev, str(src / "events.parquet"))
    assert staged_parquet_rows(str(src)) == 24


def test_confseq_stream_stateful_removes_staging_dirs(spark, tmp_path,
                                                      monkeypatch):
    """The confseq replay removes both staging directories before it
    returns; its result is still readable afterwards (the memory sink holds
    the rows) and covers every event."""
    import tempfile

    from map_reduce_folds_spark.queries import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = QUERIES["confseq_stream_stateful"](spark, SF_DIR)
    assert not [f for f in os.listdir(tmp_path)
                if f.startswith("mrf_confseq_")]
    rows = out.collect()
    n_events = load_table(spark, SF_DIR, "events").count()
    assert rows and sum(r["n_cum"] for r in rows) == n_events
