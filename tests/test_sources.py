"""Source/sink round-trips (SURVEY §2.7 GAP: the reference has no I/O)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark import sources
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def nation(spark):
    return sources.load_table(spark, SF_DIR, "nation")


def test_parquet_roundtrip(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pq")) + "/nation"
    sources.write_parquet(nation, p)
    back = sources.read_parquet(spark, p)
    assert sorted(back.collect()) == sorted(nation.collect())


def test_parquet_partitioned_write_prunes(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pqp")) + "/nation"
    sources.write_parquet(nation, p, partition_by=["n_regionkey"])
    back = sources.read_parquet(spark, p).filter("n_regionkey = 2")
    back.collect()
    from map_reduce_folds_spark.plans import executed_plan

    # partition pruning: the filter must land in PartitionFilters, and only
    # that directory's files are read
    assert "PartitionFilters: [isnotnull(n_regionkey" in executed_plan(back) or \
           "PartitionFilters: [" in executed_plan(back)
    assert back.count() == nation.filter("n_regionkey = 2").count()


def test_orc_roundtrip_and_pushdown(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("orc")) + "/nation"
    sources.write_orc(nation, p)
    back = sources.read_orc(spark, p)
    assert sorted(back.collect()) == sorted(nation.collect())
    from map_reduce_folds_spark.plans import executed_plan

    filtered = back.filter("n_regionkey = 2")
    filtered.collect()
    assert "PushedFilters: [" in executed_plan(filtered)


def test_csv_roundtrip(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("csv")) + "/nation"
    sources.write_csv(nation, p)
    back = sources.read_csv(
        spark, p, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert sorted(back.collect()) == sorted(nation.collect())


def test_json_roundtrip(spark, nation, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("json")) + "/nation"
    sources.write_json(nation, p)
    back = sources.read_json(
        spark, p, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert sorted(back.collect()) == sorted(nation.collect())


def test_register_views(spark):
    sources.register_views(spark, SF_DIR)
    n = spark.sql("select count(*) as n from nation").collect()[0].n
    assert n == 25
    # views must expose the NORMALIZED schema — a raw read here would leak
    # whatever timestamp flavor the regenerated fixture happens to carry
    from pyspark.sql.types import TimestampType

    ts_dt = spark.table("events").schema["ts"].dataType
    assert isinstance(ts_dt, TimestampType), ts_dt


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """Co-located bucketed join: both sides bucketed on the key → the join
    plan contains zero shuffle Exchanges."""
    from map_reduce_folds_spark.plans import count_exchanges, executed_plan

    o = sources.load_table(spark, SF_DIR, "orders")
    li = sources.load_table(spark, SF_DIR, "lineitem")
    sources.write_bucketed(o.select("o_orderkey", "o_totalprice"),
                           "t_orders_b", ["o_orderkey"], 8)
    sources.write_bucketed(li.select("l_orderkey", "l_quantity"),
                           "t_lineitem_b", ["l_orderkey"], 8)
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    j = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderkey").agg(
        F.sum("l_quantity").alias("q"))
    # disable broadcast so the test exercises the shuffle path decision
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j.collect()
        plan = executed_plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucketing co-locates both sides: no Exchange before the join;
        # the groupBy on the bucket key reuses the same distribution
        assert count_exchanges(j) == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_merge_upsert_semantics(spark, tmp_path):
    """Updates replace matching keys, inserts append, soft-deletes drop,
    untouched rows survive, and the source version is never modified."""
    from pyspark.sql import functions as F

    from map_reduce_folds_spark.sources import merge_upsert

    tgt = str(tmp_path / "v1")
    dst = str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]).write.parquet(tgt)
    updates = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        ["k", "v", "is_delete"])
    stats = merge_upsert(spark, tgt, updates, ["k"], dst,
                         delete_col="is_delete")
    got = {(r["k"], r["v"]) for r in spark.read.parquet(dst).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    # k2 replaced + k3 deleted = 2 removed; batch wrote k2-update + k4-insert
    assert stats == {"kept": 1, "removed_from_target": 2,
                     "written_from_batch": 2}
    # source version untouched
    v1 = {(r["k"], r["v"]) for r in spark.read.parquet(tgt).collect()}
    assert v1 == {(1, "a"), (2, "b"), (3, "c")}


def test_diff_tables_classification(spark):
    from map_reduce_folds_spark.sources import diff_tables

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], ["k", "v"])
    b = spark.createDataFrame(
        [(2, "y"), (3, "Z"), (4, "w")], ["k", "v"])
    row = diff_tables(a, b, ["k"]).first()
    assert (row["added"], row["removed"], row["changed"],
            row["unchanged"]) == (1, 1, 1, 1)
    detail = {r["k"]: r["diff"]
              for r in diff_tables(a, b, ["k"], detail=True).collect()}
    assert detail == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    import pytest as _pt
    with _pt.raises(ValueError):
        diff_tables(a, b.withColumnRenamed("v", "w"), ["k"])


def test_diff_tables_null_position_swap(spark):
    """xxhash64 skips NULL args, so without the interleaved isnull flags
    (x=5, y=NULL) → (x=NULL, y=5) hashed identically and was classified
    'unchanged' — the r6 ADVICE bug.  Must be 'changed'."""
    from map_reduce_folds_spark.sources import diff_tables

    a = spark.createDataFrame([(1, 5, None), (2, None, None)],
                              "k int, x int, y int")
    b = spark.createDataFrame([(1, None, 5), (2, None, None)],
                              "k int, x int, y int")
    detail = {r["k"]: r["diff"]
              for r in diff_tables(a, b, ["k"], detail=True).collect()}
    assert detail == {1: "changed", 2: "unchanged"}


def test_shard_skew_audit_balanced_vs_hot(spark):
    """A high-cardinality key buckets near-evenly (skew ~1); a
    single-value key concentrates everything in one bucket (skew =
    n_buckets, used_buckets = 1); counts and percentiles are exact."""
    from map_reduce_folds_spark.sources import shard_skew_audit

    even = spark.range(0, 6400).withColumnRenamed("id", "k")
    r = shard_skew_audit(even, ["k"], 64).collect()[0]
    assert r["n_rows"] == 6400 and r["n_buckets"] == 64
    assert r["used_buckets"] == 64
    assert r["min_sz"] <= 100 <= r["max_sz"]
    assert 1.0 <= r["skew"] < 1.6          # hash-even, not perfect
    assert r["p50_sz"] <= r["p99_sz"] <= r["max_sz"]

    hot = spark.range(0, 500).selectExpr("'same' AS k")
    h = shard_skew_audit(hot, ["k"], 64).collect()[0]
    assert h["used_buckets"] == 1 and h["max_sz"] == 500
    assert h["skew"] == 64.0


def test_shard_skew_audit_guard(spark):
    import pytest as _pytest

    from map_reduce_folds_spark.sources import shard_skew_audit

    with _pytest.raises(ValueError, match="n_buckets"):
        shard_skew_audit(None, ["k"], 0)


def test_shard_skew_audit_empty_input(spark):
    """Empty input yields the NULL-percentile summary row (matching the
    SQL mirror) instead of an element_at index error."""
    from map_reduce_folds_spark.sources import shard_skew_audit

    empty = spark.range(0).selectExpr("id AS k")
    r = shard_skew_audit(empty, ["k"], 16).collect()[0]
    assert r["used_buckets"] == 0
    assert r["n_rows"] is None and r["p50_sz"] is None
    assert r["skew"] is None
