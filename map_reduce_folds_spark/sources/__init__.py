"""Sources & sinks.

The reference has none (in-memory Foldables only — reference Readme.md:8);
this is GAP coverage per SURVEY §2.7.  Everything is the declarative reader
API so Catalyst gets predicate pushdown / column pruning / partition pruning
at the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: str | None = None, **options) -> DataFrame:
    reader = spark.read.options(header="true", **options)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same declarative reader contract as parquet (predicate
    pushdown, column pruning, and zone-map row-group skipping all apply)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True, **options) -> None:
    """Interchange sink (no stats/pushdown on re-read — columnar formats
    are the pipeline-internal choice; this is for handoff)."""
    df.write.mode(mode).options(header=str(header).lower(), **options).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite",
               **options) -> None:
    """JSON-lines sink — one object per line, the interchange format most
    ingestion tooling consumes."""
    df.write.mode(mode).options(**options).json(path)


def spread_small_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive parallelism floor for per-row-EXPENSIVE downstream
    stages (optimization guide §2.5, input skew: "one huge unsplittable
    file ... repartition immediately after the read").

    A single-file, single-row-group parquet input — the committed fixture
    shape — scans as ONE task, so a following Arrow/mapInPandas stage
    (per-shingle md5, per-token hashing) runs on one core of the whole
    cluster.  When the scan yields fewer partitions than the session's
    default parallelism, hash-repartition on ``key_cols`` (keyed: no
    sort-before-repartition pass, deterministic placement under retries —
    SPARK-38388 discipline) so the expensive stage uses every core.  At
    production scale the scan already carries >= cores splits and this
    returns the frame UNCHANGED — no Exchange is added.

    Only safe for partitioning-insensitive consumers (per-row transforms,
    order-free aggregates, joins); callers own that property.  Streaming
    frames and other non-RDD-materializable plans pass through untouched.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:  # noqa: BLE001 — e.g. streaming plans: leave as-is
        return df
    cols = [F.col(c) for c in key_cols]
    return df.repartition(target, *cols) if cols else df.repartition(target)


_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized per-session: repeated loads reuse the analyzed plan (and its
    resolved file listing) instead of re-reading parquet footers — measurable
    when a harness runs dozens of queries against the same fixtures."""
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Historically events.parquet carried TIMESTAMP(NANOS), which the
        # parquet reader rejects unless nanos are read as long.  This is a
        # runtime-settable SQL conf — set it here so the loader works on ANY
        # session (the driver harness builds its own), not just ours.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_events_ts(df)
    _check_fixture_contract(name, df)
    return df


def _check_fixture_contract(name: str, df: DataFrame) -> None:
    """Fail LOUDLY (one clear message, not N downstream AnalysisExceptions)
    if the driver regenerates a fixture with a load-bearing column outside
    its accepted dtype set.  For the date columns TIMESTAMP and
    TIMESTAMP_NTZ are both fine (every consumer uses year/month
    extraction, date-string comparison, or an explicit cast — all legal on
    either); DATE would also analyze everywhere, so it is accepted
    pre-emptively.  events.ts is stricter: it must already be canonical
    TIMESTAMP here because :func:`_normalize_events_ts` ran first."""
    from pyspark.sql.types import (
        ArrayType, DateType, DoubleType, FloatType, StringType,
        TimestampNTZType, TimestampType,
    )

    def _is_float_array(dt):
        return isinstance(dt, ArrayType) and isinstance(
            dt.elementType, (FloatType, DoubleType))

    contract = {
        "events": {"ts": (TimestampType,)},
        "orders": {"o_orderdate": (TimestampType, TimestampNTZType, DateType)},
        "lineitem": {"l_shipdate": (TimestampType, TimestampNTZType, DateType)},
        # the LLM-pipeline load-bearing columns: every similarity op casts
        # elements to double (so float OR double arrays are fine), every
        # text op assumes a string column
        "embeddings": {"embedding": _is_float_array},
        "documents": {"text": (StringType,)},
    }
    for col, accepted in contract.get(name, {}).items():
        # a dropped/renamed column is the same breakage class as a dtype
        # change — same single clear message, not a bare KeyError
        if col not in df.schema.fieldNames():
            raise TypeError(
                f"{name}.{col} is MISSING from the regenerated fixture. "
                "The driver dropped or renamed a load-bearing column — "
                "extend the loader contract deliberately rather than "
                "letting every consumer fail. "
                f"Observed schema: {df.schema.simpleString()}"
            )
        dt = df.schema[col].dataType
        ok = accepted(dt) if callable(accepted) and not isinstance(
            accepted, tuple) else isinstance(dt, accepted)
        if not ok:
            names = (getattr(accepted, "__name__", str(accepted))
                     if not isinstance(accepted, tuple)
                     else [t.__name__ for t in accepted])
            raise TypeError(
                f"{name}.{col} arrived as unsupported dtype {dt!r} "
                f"(accepted: {names}). The driver regenerated the fixtures "
                "with a new physical shape — extend the loader contract "
                "deliberately rather than letting every consumer fail. "
                f"Observed schema: {df.schema.simpleString()}"
            )


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Fixture contract: coerce ``events.ts`` to one canonical dtype
    (TIMESTAMP, UTC session) no matter how the driver wrote it.

    The driver regenerates the fixtures between rounds and has already
    shipped two physical shapes; accept all three known variants and fail
    loudly on anything new so the breakage is one obvious message, not N
    downstream AnalysisExceptions:

    - TIMESTAMP(NANOS) → with ``nanosAsLong`` arrives as bigint
      nanoseconds → ``timestamp_micros(ns div 1000)`` (integer division:
      ns magnitudes overflow double; truncation matches DuckDB's
      TIMESTAMP_NS → TIMESTAMP).
    - plain ``timestamp[us]`` (no tz) → Spark reads TIMESTAMP_NTZ →
      ``cast("timestamp")`` — instant-preserving because the session
      timezone is pinned UTC (session.py), identical to DuckDB reading
      the same naive column.
    - ``timestamp[us, tz=UTC]`` → already TimestampType → no-op.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dt, TimestampType):
        return df
    raise TypeError(
        f"events.ts arrived as unsupported dtype {dt!r}; expected parquet "
        "TIMESTAMP(NANOS) (read as long), TIMESTAMP_NTZ, or TIMESTAMP. "
        f"Observed schema: {df.schema.simpleString()}"
    )


def table_rowcount(sf_dir: str, name: str) -> int | None:
    """Row count from the parquet FOOTERS — a driver-side metadata read
    (milliseconds, zero Spark jobs), the local analog of a catalog
    rowcount at warehouse scale.  Returns None when the path isn't a
    local parquet file/dir pyarrow can reach (remote filesystems fall
    back to a Spark count in the caller)."""
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return pq.read_metadata(path).num_rows
        if os.path.isdir(path):
            return sum(
                pq.read_metadata(os.path.join(path, f)).num_rows
                for f in os.listdir(path) if f.endswith(".parquet"))
    except Exception:  # noqa: BLE001 — metadata probe only, never fatal
        return None
    return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table present in ``sf_dir`` (TESTDATA.md)."""
    out = {}
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = load_table(spark, sf_dir, t)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (saveAsTable — bucketing metadata needs the
    catalog).  Two tables bucketed identically on the join key co-locate:
    the join compiles with NO Exchange on either side — at 100 TB that is
    the difference between a metadata lookup and reshuffling both fact
    tables.  Pair with ``spark.sql.sources.bucketing.enabled`` (default on).

    THE WRITE-ONCE / JOIN-FREE PATTERN (measured, tools/bench_q9_bucketed):
    a recurring fact-fact join (q9's lineitem⋈orders) pays two full
    shuffles per run once neither side broadcasts; bucketing both sides
    on the join key is a ONE-TIME write (~22 s at the 100× corpus) after
    which the join runs Exchange-free forever — 8.38 s → 2.31 s per run
    at 100×, per-10× growth 7.43× → 1.97× (linear-in-scan).  Sort within
    buckets (``sort_cols=bucket_cols``) so SortMergeJoin also skips its
    sorts.  :func:`~map_reduce_folds_spark.plans.scale_audit` flags any
    plan still shuffle-joining bare scans and names the available
    bucketed layout (or recommends creating one here)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    dst_path: str,
    delete_col: str | None = None,
) -> dict[str, int]:
    """Batch upsert (CDC apply) without a table format: write a NEW
    version of the target at ``dst_path`` where rows whose key appears in
    ``updates`` are replaced, unseen keys are inserted, and — when
    ``delete_col`` names a boolean column — flagged keys are dropped.
    Returns ``{"kept": ..., "removed_from_target": ...,
    "written_from_batch": ...}`` — precisely: target rows surviving
    untouched, target rows replaced or deleted by the batch, and batch
    rows written (replacements + true inserts; split them upstream if a
    monitor needs the distinction — telling an update from an insert
    requires one more target-scan join this function refuses to pay).

    The plan is one anti-join (target keys vs the update key set, which
    a broadcast covers for typical CDC batch sizes) plus a union — the
    target is SCANNED once for the write and never rewritten in place,
    so readers of ``target_path`` stay correct and promotion (rename /
    metastore pointer swap) stays a layer above.  Stats ride the write job itself
    (``quality.observe`` — no dst re-read, no anti-join re-run); the one
    extra job is the tiny batch count.  If ``updates`` carries several
    rows per key, deduplicate upstream (e.g.
    ``relational.topk_per_group`` by a version column) — this function
    applies the batch as given."""
    from map_reduce_folds_spark.operators.quality import observe

    tgt = spark.read.parquet(target_path)
    n_tgt = tgt.count()
    upd_keys = updates.select(*key_cols).distinct()
    kept = tgt.join(F.broadcast(upd_keys), key_cols, "left_anti")
    apply_rows = updates
    if delete_col is not None:
        apply_rows = updates.where(
            ~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    n_batch = apply_rows.count()
    out, obs = observe(kept.unionByName(apply_rows), "merge_upsert",
                       {"n_written": F.count(F.lit(1))})
    out.write.mode("overwrite").parquet(dst_path)
    n_kept = int(obs.get["n_written"]) - n_batch
    return {"kept": n_kept, "removed_from_target": n_tgt - n_kept,
            "written_from_batch": n_batch}


def diff_tables(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    detail: bool = False,
) -> DataFrame:
    """Snapshot diff between two versions of a table (the post-upsert /
    post-backfill audit): classify keys as added / removed / changed /
    unchanged by comparing a row hash of the non-key columns across one
    full-outer key join.

    Summary form (default): ONE row of the four counts.  ``detail=True``
    returns the per-key classification ``(keys…, diff)`` instead (filter
    to the class you want — the predicate pushes into the join output).
    Columns must match; the row hash is ``xxhash64`` over the non-key
    columns in a-column order (JVM-side, no Python).

    NULL discipline: ``xxhash64`` SKIPS null arguments in its fold, so a
    bare value hash would classify ``(x=5, y=NULL) → (x=NULL, y=5)`` as
    unchanged.  Each value column therefore contributes an explicit
    ``isnull`` flag interleaved before it — the flag sequence encodes the
    null mask at fixed positions, so any two rows with different null
    masks (or different non-null values) hash differently."""
    if sorted(a.columns) != sorted(b.columns):
        raise ValueError(
            f"diff_tables: schemas differ: {sorted(a.columns)} vs "
            f"{sorted(b.columns)} — align columns first")
    val_cols = [c for c in a.columns if c not in key_cols]
    def hashed(df, tag):
        h = F.xxhash64(*[part for c in val_cols for part in
                         (F.isnull(F.col(c)).cast("int"), F.col(c))]) \
            if val_cols else F.lit(0).cast("bigint")
        return df.select(*key_cols, h.alias(f"__h_{tag}"),
                         F.lit(1).alias(f"__in_{tag}"))
    j = hashed(a, "a").join(hashed(b, "b"), key_cols, "full_outer")
    cls = (
        F.when(F.col("__in_a").isNull(), F.lit("added"))
        .when(F.col("__in_b").isNull(), F.lit("removed"))
        .when(F.col("__h_a") == F.col("__h_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    classified = j.select(*key_cols, cls.alias("diff"))
    if detail:
        return classified
    counts = classified.groupBy("diff").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy().pivot(
        "diff", ["added", "removed", "changed", "unchanged"]
    ).sum("n").na.fill(0)


def shard_skew_audit(
    df: DataFrame,
    key_cols: "list[str]",
    n_buckets: int = 64,
) -> DataFrame:
    """LAYOUT-PLANNING audit: would hash-bucketing this table on
    ``key_cols`` into ``n_buckets`` shards balance?  Buckets assign by
    the PORTABLE md5 hash60 (pmod into ``n_buckets``), so the audit —
    used buckets, min/median/p99/max shard size, and the skew factor
    ``max/mean`` — is the engine-exact preview of the write-once
    bucketed layouts this package recommends (the q9 recipe,
    ``materialize_bucketed``, the scale_audit bucketed-join rule).  A
    skew factor ≫ 1 means the key is too hot to bucket raw: pre-salt
    or pick a composite key BEFORE paying for the layout write.

    One scan + one bounded ``n_buckets``-row aggregate; percentiles
    are nearest-rank integer selection over the sorted bucket-size
    array (bounded), the skew division is the only double op
    (9-decimal round).

    Output: one row ``(n_rows, n_buckets, used_buckets, min_sz,
    p50_sz, p99_sz, max_sz, skew)``."""
    from ..operators.text import hash60

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    sizes = (
        df.select(F.pmod(hash60(key), F.lit(int(n_buckets))).alias("__b"))
        .groupBy("__b").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    arr = F.array_sort(F.collect_list("__n"))
    stats = sizes.agg(
        F.sum("__n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("used_buckets"),
        F.min("__n").cast("bigint").alias("min_sz"),
        F.max("__n").cast("bigint").alias("max_sz"),
        arr.alias("__a"),
    )

    def nearest_rank(p: float):
        # ceil(p * used)-th of the sorted sizes (1-based nearest-rank);
        # empty input → used_buckets = 0 → NULL (element_at at index 0
        # would RAISE in Spark, while the SQL mirror yields NULL)
        idx = F.ceil(F.lit(p) * F.col("used_buckets")).cast("int")
        return F.when(F.col("used_buckets") > 0,
                      F.element_at(F.col("__a"), idx))

    return stats.select(
        "n_rows",
        F.lit(int(n_buckets)).cast("bigint").alias("n_buckets"),
        "used_buckets", "min_sz",
        nearest_rank(0.5).cast("bigint").alias("p50_sz"),
        nearest_rank(0.99).cast("bigint").alias("p99_sz"),
        "max_sz",
        F.round(F.col("max_sz").cast("double")
                / (F.col("n_rows").cast("double")
                   / F.lit(float(int(n_buckets)))), 9).alias("skew"))


def shard_skew_audit_sql(
    src: str,
    key_exprs: "list[str]",
    n_buckets: int = 64,
) -> str:
    """DuckDB mirror of :func:`shard_skew_audit` (same md5 hash60,
    pmod, nearest-rank selection, single rounded division)."""
    from ..operators.text import hash60_sql

    key = ("concat_ws(chr(31), "
           + ", ".join(f"CAST({e} AS VARCHAR)" for e in key_exprs) + ")")
    h = hash60_sql(key)
    return f"""
    WITH b AS (
        SELECT ((({h}) % {int(n_buckets)}) + {int(n_buckets)})
                   % {int(n_buckets)} AS bk
        FROM {src}
    ),
    sizes AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS n
              FROM b GROUP BY 1),
    s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS used_buckets,
               CAST(MIN(n) AS BIGINT) AS min_sz,
               CAST(MAX(n) AS BIGINT) AS max_sz,
               list_sort(list(n)) AS a
        FROM sizes
    )
    SELECT n_rows, CAST({int(n_buckets)} AS BIGINT) AS n_buckets,
           used_buckets, min_sz,
           CAST(a[CAST(ceil(0.5 * used_buckets) AS INT)] AS BIGINT)
               AS p50_sz,
           CAST(a[CAST(ceil(0.99 * used_buckets) AS INT)] AS BIGINT)
               AS p99_sz,
           max_sz,
           round(CAST(max_sz AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) / {float(int(n_buckets))!r}), 9)
               AS skew
    FROM s
    """
