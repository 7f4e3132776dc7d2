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
    read_parquet_stream, run_to_memory, stream_mapreduce,
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


def test_fold_session_times_state_machine():
    """The pure session fold behind sessionize_stateful (no stream):
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
    computation — the correctness core of sessionize_stateful, checked
    without a stream."""
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


def test_sessionize_stateful_timer_close(spark, tmp_path_factory):
    """End-to-end timer-based session close on the GroupState API:
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
    """The confseq replay leaves nothing in the temporary directory when it
    returns; its result is still readable afterwards (the memory sink holds
    the rows) and covers every event."""
    import tempfile

    from map_reduce_folds_spark.queries import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = QUERIES["confseq_stream_stateful"](spark, SF_DIR)
    assert os.listdir(tmp_path) == []
    rows = out.collect()
    n_events = load_table(spark, SF_DIR, "events").count()
    assert rows and sum(r["n_cum"] for r in rows) == n_events


def test_run_to_memory_overlapping_pins_restore_the_session_value(
        spark, tmp_path_factory):
    """Two overlapping pinning calls each restore the value they found, so
    the session keeps its own value afterwards."""
    from concurrent.futures import ThreadPoolExecutor

    from map_reduce_folds_spark.streaming import (
        read_parquet_stream, run_to_memory, stream_confseq)

    p = str(tmp_path_factory.mktemp("rtm_overlap"))
    spark.createDataFrame([(1, 1), (1, 0), (2, 1)], ["k", "y"]) \
        .coalesce(1).write.mode("overwrite").parquet(p)
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def drain(i):
        out = stream_confseq(read_parquet_stream(spark, p, "k bigint, y bigint"),
                             "k", "y")
        got = run_to_memory(out, f"rtm_overlap_{i}", timeout_s=120,
                            output_mode="update", state_partitions=i + 1)
        return {r["k"]: (r["n_cum"], r["s_cum"]) for r in got.collect()}

    with ThreadPoolExecutor(2) as ex:
        results = list(ex.map(drain, range(2)))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert results == [{1: (2, 1), 2: (1, 1)}] * 2


def test_replay_to_memory_carries_state_in_batch_order(
        spark, tmp_path, tmp_path_factory, monkeypatch):
    """Two one-file micro-batches (a Spark frame, then a pyarrow table)
    fold in batch order with state carried across them; the memory table
    stays readable after the staging directory is removed, and a failing
    ``build`` or a misplaced path input leaves nothing behind.  The fold's
    state is a ``Decimal``, which the state codec must carry across the
    batches (JSON cannot encode one)."""
    import tempfile
    from decimal import Decimal

    import pyarrow as pa

    from map_reduce_folds_spark.streaming import (
        replay_to_memory, stateful_fold)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    schema = "k bigint, x bigint"
    digits = folds.CustomFold(step=lambda acc, x: acc * 10 + x,
                              init=Decimal(0), extract=int)
    first = spark.createDataFrame([(1, 1), (2, 5)], schema)
    second = pa.table({"k": pa.array([1, 2], pa.int64()),
                       "x": pa.array([3, 6], pa.int64())})

    got = replay_to_memory(
        spark, [[first], [second]], schema,
        lambda stream: stateful_fold(stream, ["k"], ["x"], digits,
                                     out_col="acc", out_dtype="bigint"),
        "replay_order_q", "update")
    assert os.listdir(tmp_path) == []
    # one emission per key per micro-batch: 1 then 13 (reversed: 3, 31)
    assert sorted((r["k"], r["acc"]) for r in got.collect()) == [
        (1, 1), (1, 13), (2, 5), (2, 56)]

    def boom(stream):
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        replay_to_memory(spark, [[first]], schema, boom, "replay_boom_q",
                         "update")
    assert os.listdir(tmp_path) == []

    late = str(tmp_path_factory.mktemp("replay_late") / "x.parquet")
    first.write.parquet(late)
    with pytest.raises(ValueError, match="first micro-batch"):
        replay_to_memory(spark, [[first], [late]], schema, boom,
                         "replay_late_q", "update")
    assert os.listdir(tmp_path) == []


def test_per_key_twins_share_one_group_state_loop():
    """The module calls ``applyInPandasWithState`` at exactly two sites,
    the per-key runtime and ``sessionize_stateful`` (the one event-time
    timeout user), and never ``transformWithStateInPandas``: a new twin
    that copies the GroupState loop fails here."""
    import ast
    import inspect

    from map_reduce_folds_spark import streaming

    def stateful_calls(node):
        return [n.func.attr for n in ast.walk(node)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("applyInPandasWithState",
                                    "transformWithStateInPandas")]

    tree = ast.parse(inspect.getsource(streaming))
    assert len(stateful_calls(tree)) == 2
    sites = {fn.name: stateful_calls(fn) for fn in tree.body
             if isinstance(fn, ast.FunctionDef) and stateful_calls(fn)}
    assert sites == {"_keyed_fold": ["applyInPandasWithState"],
                     "sessionize_stateful": ["applyInPandasWithState"]}


def test_run_to_memory_raises_on_timeout(spark, tmp_path):
    """A stream still running at the timeout raises instead of returning
    the partial sink, and the pinned shuffle partitions are restored."""
    from map_reduce_folds_spark.streaming import stream_confseq

    p = str(tmp_path / "src")
    spark.createDataFrame([(1, 1), (2, 0)], ["k", "y"]) \
        .coalesce(1).write.parquet(p)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = stream_confseq(read_parquet_stream(spark, p, "k bigint, y bigint"),
                         "k", "y")
    with pytest.raises(TimeoutError):
        run_to_memory(out, "rtm_timeout_q", timeout_s=0.001,
                      output_mode="update", state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert not [q for q in spark.streams.active if q.name == "rtm_timeout_q"]


def test_sessionize_stream_stateful_reads_directory_shaped_events(
        spark, tmp_path):
    """A Spark-written multi-part ``events.parquet/`` streams in full (the
    file source reads nothing through a symlink to a directory, so the
    replay links its part files): every user's session sizes equal the
    batch ``sessionize_events`` ones on the same directory."""
    from map_reduce_folds_spark.queries import QUERIES

    ev = tmp_path / "events.parquet"
    load_table(spark, SF_DIR, "events").repartition(3).write.parquet(str(ev))
    assert len([f for f in os.listdir(ev) if f.endswith(".parquet")]) == 3

    def sizes(rows, order):
        by_user = {}
        for r in sorted(rows, key=lambda r: (r["user_id"], r[order])):
            by_user.setdefault(r["user_id"], []).append(r["n_events"])
        return by_user

    got = QUERIES["sessionize_stream_stateful"](spark, str(tmp_path))
    want = QUERIES["sessionize_events"](spark, str(tmp_path))
    got_sizes = sizes(got.collect(), "session_start_us")
    assert got_sizes and got_sizes == sizes(want.collect(), "session_id")
