"""Deterministic sampling / splitting / mixing (north-star GAP ops).

The reference has no sampling surface (its rows are in-memory Foldables,
reference Readme.md:8); these are the training-data-pipeline primitives a
100 TB corpus job needs.  Everything here is HASH-based, never RNG-based:

* reproducible across engines (the portable ``hash60`` has an exact
  DuckDB mirror, so every operator below is oracle-checkable),
* reproducible across runs, partitionings, and cluster sizes (unlike
  ``df.sample``, whose output depends on partition layout and seed
  plumbing),
* stable under data growth — a document keeps its split assignment when
  the corpus around it changes, which is what makes incremental
  training-set builds and leakage audits possible.

All pure Catalyst column expressions: scan-bounded, whole-stage
codegen'd, zero shuffles beyond what the caller adds.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators.text import hash60, hash60_sql

#: denominator for split bucketing — 1e6 buckets keeps threshold rounding
#: exact for weights with ≤6 decimal places
_BUCKETS = 1_000_000


def _bucket(col: Column | str, salt: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return hash60(c.cast("string"), salt) % _BUCKETS


def _bucket_sql(expr: str, salt: str) -> str:
    return f"({hash60_sql(f'CAST({expr} AS VARCHAR)', salt)} % {_BUCKETS})"


def _thresholds(weights: Mapping[str, float]) -> list[tuple[str, int, int]]:
    """(name, lo, hi) half-open bucket ranges from cumulative weights."""
    total = sum(weights.values())
    if not 0.999999 <= total <= 1.000001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    out, acc = [], 0.0
    names = list(weights)
    for i, name in enumerate(names):
        lo = round(acc * _BUCKETS)
        acc += weights[name]
        # last range closes at exactly _BUCKETS so the parts are a partition
        hi = _BUCKETS if i == len(names) - 1 else round(acc * _BUCKETS)
        out.append((name, lo, hi))
    return out


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test by default) from
    the hash of its id — deterministic, partition-independent, exhaustive
    and disjoint by construction (half-open bucket ranges covering
    [0, 1e6)).  ``salt`` namespaces the split so re-splitting with a new
    salt is uncorrelated with the old assignment."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    b = _bucket(id_col, salt)
    expr = None
    for name, lo, hi in _thresholds(weights):
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr)


def hash_split_sql(id_expr: str, weights: Mapping[str, float] | None = None,
                   salt: str = "split") -> str:
    """DuckDB CASE expression mirroring :func:`hash_split` exactly."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    b = _bucket_sql(id_expr, salt)
    arms = " ".join(
        f"WHEN {b} >= {lo} AND {b} < {hi} THEN '{name}'"
        for name, lo, hi in _thresholds(weights)
    )
    return f"(CASE {arms} END)"


def mix_sources(
    df: DataFrame,
    source_col: str,
    rates: Mapping[str, float],
    id_col: str,
    salt: str = "mix",
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted source mixing: keep each row with its source's sampling
    rate, decided by the row-id hash — the deterministic form of the
    "N% of web, all of books" corpus-mixing step.  A source absent from
    ``rates`` gets ``default_rate`` (0 = drop).  Per-row decision, no
    shuffle, exact SQL mirror (:func:`mix_sources_sql`)."""
    b = _bucket(id_col, salt)
    thr = None
    for src, r in rates.items():
        # integer thresholds computed HERE (not in the engine): double→int
        # conversion rounds in DuckDB but truncates in Spark, so a literal
        # is the only way both sides agree at the boundary
        t = _rate_threshold(src, r)
        cond = F.col(source_col) == src
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    dflt = _rate_threshold("default", default_rate)
    thr = thr.otherwise(dflt) if thr is not None else F.lit(dflt)
    return df.filter(b < thr)


def _rate_threshold(name: str, rate: float) -> int:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate for {name!r} must be in [0,1], got {rate}")
    return round(rate * _BUCKETS)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    salt: str = "shuffle",
    pos_col: str = "pos",
    n_buckets: int = 1024,
) -> DataFrame:
    """Reproducible global shuffle: every row gets a stable position from
    the hash order of its id (ties broken by the id itself, so the order
    is total).  The training-data "shuffle the corpus" step without RNG
    state — same order on every engine, run, and cluster size; re-salt for
    a fresh epoch permutation.

    Scale shape — deliberately NOT ``row_number() OVER (ORDER BY …)``,
    whose empty PARTITION BY collapses every row into ONE task (measured
    15 s for 10M rows locally; a non-starter at corpus scale).  Instead:

    1. bucket = top ``log2(n_buckets)`` bits of the 60-bit hash —
       order-PRESERVING (bucket i's hashes all sort before bucket i+1's),
       uniform by hash construction, and a pure function of the row (no
       sampled range boundaries, so recomputation is deterministic);
    2. rank within each bucket in parallel (windows partitioned by
       bucket);
    3. global position = rank + the bucket's offset (exclusive prefix sum
       of the ≤ ``n_buckets`` bucket counts — computed LAZILY by
       ``windows.exclusive_bucket_offsets`` and broadcast-joined back:
       bounded metadata, and nothing executes at plan-construction time,
       so ranks and offsets always come from the same data snapshot).

    Two shuffles (window + count agg) and n_buckets-way parallelism in
    place of the single-task sort; measured 15.5 s → 3 s on 10M rows
    locally, and the plan holds at 1000 executors (raise ``n_buckets``
    toward 2–3× total cores)."""
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    from pyspark.sql.window import Window

    from .windows import exclusive_bucket_offsets

    shift = 60 - n_buckets.bit_length() + 1
    h = hash60(F.col(id_col).cast("string"), salt)
    # shiftright = exact integer division by 2^shift (hash > 2^53 would
    # lose low bits through double-based F.floor division)
    tagged = df.withColumn("__h", h).withColumn(
        "__b", F.shiftright(F.col("__h"), shift)
    )
    w = Window.partitionBy("__b").orderBy(F.col("__h"), F.col(id_col))
    ranked = tagged.withColumn("__r", F.row_number().over(w).cast("bigint"))

    counts = tagged.groupBy("__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__t"))
    off_df = exclusive_bucket_offsets(counts)
    return (
        ranked.join(F.broadcast(off_df), "__b")
        .withColumn(pos_col, (F.col("__off") + F.col("__r")))
        .drop("__h", "__b", "__r", "__off")
    )


def deterministic_shuffle_sql(id_expr: str, salt: str = "shuffle") -> str:
    """DuckDB window expression mirroring :func:`deterministic_shuffle`:
    one global ROW_NUMBER over the same total order (raw 60-bit hash, id
    tiebreak).  The bucket/offset decomposition is invisible to the
    result — bucketing by the hash's top bits preserves exactly this
    order, which is what makes the parallel form oracle-checkable."""
    h = hash60_sql(f"CAST({id_expr} AS VARCHAR)", salt)
    return f"CAST(ROW_NUMBER() OVER (ORDER BY {h}, {id_expr}) AS BIGINT)"


def mix_sources_sql(
    source_expr: str,
    rates: Mapping[str, float],
    id_expr: str,
    salt: str = "mix",
    default_rate: float = 0.0,
) -> str:
    """DuckDB WHERE predicate mirroring :func:`mix_sources` exactly (same
    integer literal thresholds — see the boundary note in the impl)."""
    b = _bucket_sql(id_expr, salt)
    arms = " ".join(
        f"WHEN {source_expr} = '{s}' THEN {_rate_threshold(s, r)}"
        for s, r in rates.items()
    )
    thr = f"(CASE {arms} ELSE {_rate_threshold('default', default_rate)} END)"
    return f"({b} < {thr})"


def temperature_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    tau: float = 0.5,
    salt: str = "tmix",
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-reweighted corpus mixing (the multilingual /
    multi-source sampling rule of mT5 & UniMax, public literature):
    subsample each source so the KEPT mass follows ``p_s ∝ w_s^τ``
    instead of the raw ``w_s`` — τ < 1 upweights small sources, τ = 1
    is a no-op, τ = 0 equalizes.  Unlike :func:`mix_sources` the rates
    are not caller-supplied: they are DERIVED from the observed masses,
    keeping the maximum possible data (the largest total where every
    per-source rate stays ≤ 1): ``r_s = (w_min / w_s)^(1−τ)`` — the
    smallest source is kept whole and every other source is thinned
    toward it.

    Fully distributed: per-source mass is one aggregate (row count, or
    ``sum(weight_col)`` for token-mass weighting), the global min is a
    1-row broadcast, the keep decision is the usual deterministic
    row-id hash against an integer bucket threshold
    ``t_s = floor(1e6 · r_s)`` — no driver collect, no RNG, stable
    under data growth like everything in this module.

    ENGINE-PORTABILITY of the threshold: at the default ``τ = 0.5`` the
    rate is ``sqrt(w_min/w_s)`` — one IEEE division and one IEEE sqrt,
    both CORRECTLY ROUNDED by the standard, so Spark and DuckDB compute
    bit-identical doubles and therefore identical integer thresholds
    (:func:`temperature_mix_sql` is the exact mirror).  Other τ go
    through ``pow``, which libm does NOT guarantee correctly rounded —
    fine in production, but only τ = 0.5 is held to the bitwise oracle
    gate."""
    if not 0.0 <= tau <= 1.0:
        raise ValueError(f"tau must be in [0,1], got {tau}")
    w = (F.count(F.lit(1)).cast("double") if weight_col is None
         else F.sum(weight_col).cast("double"))
    mass = df.groupBy(source_col).agg(w.alias("__w"))
    wmin = mass.agg(F.min("__w").alias("__wmin"))
    ratio = F.col("__wmin") / F.col("__w")
    rate = (F.sqrt(ratio) if tau == 0.5
            else F.pow(ratio, F.lit(1.0 - tau)))
    thr = mass.crossJoin(F.broadcast(wmin)).select(
        source_col,
        F.floor(F.lit(float(_BUCKETS)) * rate).cast("bigint").alias("__t"),
    )
    return (
        df.join(F.broadcast(thr), source_col)
        .filter(_bucket(id_col, salt) < F.col("__t"))
        .drop("__t")
    )


def temperature_mix_sql(
    src: str,
    source_expr: str,
    id_expr: str,
    salt: str = "tmix",
    weight_expr: str | None = None,
) -> str:
    """DuckDB mirror of :func:`temperature_mix` at τ = 0.5 (the
    correctly-rounded sqrt path — see the portability note there):
    returns a full SELECT over ``src`` keeping the mirrored rows."""
    w = "CAST(COUNT(*) AS DOUBLE)" if weight_expr is None \
        else f"CAST(SUM({weight_expr}) AS DOUBLE)"
    b = _bucket_sql(id_expr, salt)
    return f"""
    WITH __mass AS (
        SELECT {source_expr} AS __src, {w} AS __w
        FROM {src} GROUP BY 1
    ),
    __thr AS (
        SELECT __src,
               CAST(floor({float(_BUCKETS)} *
                    sqrt((SELECT MIN(__w) FROM __mass) / __w))
                    AS BIGINT) AS __t
        FROM __mass
    )
    SELECT d.* EXCLUDE (__srcv)
    FROM (SELECT *, {source_expr} AS __srcv FROM {src}) d
    JOIN __thr ON __thr.__src = d.__srcv
    WHERE {b} < __thr.__t
    """


def unimax_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    budget_epochs: float,
    max_epochs: float = 1.0,
    salt: str = "umax",
    weight_col: str | None = None,
    epoch_col: str = "epoch",
) -> DataFrame:
    """UniMax epoch-capped corpus mixing (Chung et al. 2023, public
    literature): spread a total training budget as UNIFORMLY as possible
    across sources, subject to a per-source repeat cap — no source is
    seen for more than ``max_epochs`` epochs.  This is the closed-form
    waterfilling allocation: with per-source mass ``w_s`` and caps
    ``c_s = max_epochs·w_s``, each source gets ``b_s = min(c_s, L)``
    where the water level ``L`` solves ``Σ b_s = B`` (sources small
    enough to hit their cap are taken whole; the rest share the
    remaining budget equally).  ``budget_epochs`` expresses ``B`` in
    units of total corpus mass (``B = budget_epochs·Σw``) so the rule is
    scale-free — the same parameterization at sf0.01 and at 100 TB.

    Per-source epochs ``e_s = b_s/w_s ∈ (0, max_epochs]`` realize as row
    REPLICATION (e > 1 upsamples small sources, the UniMax point) plus a
    deterministic hash-kept fractional epoch: every row of source s is
    emitted ``floor(e_s)`` times, plus once more iff
    ``hash(id) < floor(1e6·frac(e_s))`` — copies are numbered 0..k-1 in
    ``epoch_col``.  Fully distributed: one mass aggregate, the
    waterfall over the K-row source relation via window functions
    (K = #sources, a bounded relation — the one global window here runs
    over K rows, not the corpus), a broadcast join back, per-row hash
    decisions; no driver collect, no RNG.

    ENGINE-PORTABILITY (the bitwise-oracle contract of this module):
    caps and masses are INTEGER-VALUED doubles when ``max_epochs`` is
    integral and the weights are counts/integers — every cumulative sum
    and product below 2^53 is then EXACT regardless of accumulation
    order (DuckDB's segment-tree window sums and Spark's running frames
    agree bit-for-bit), and the two divisions (water level, epochs) plus
    the budget multiply are single correctly-rounded IEEE ops.  The
    bitwise gate therefore holds for integral ``max_epochs``; fractional
    caps remain correct but only hash-stable per engine."""
    from pyspark.sql.window import Window

    if budget_epochs <= 0:
        raise ValueError(f"budget_epochs must be > 0, got {budget_epochs}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    w = (F.count(F.lit(1)).cast("double") if weight_col is None
         else F.sum(weight_col).cast("double"))
    mass = df.groupBy(source_col).agg(w.alias("__w"))
    # single-task window, DELIBERATELY: the windowed relation is the
    # K-row per-source mass aggregate (K = #sources), bounded by
    # construction — not the corpus.  The constant partition key keeps
    # the package-wide global-ORDER-BY lint meaningful for the
    # corpus-scale case it exists to catch.
    order = Window.partitionBy(F.lit(0)).orderBy("__c", source_col)
    lvl = mass.withColumn(
        "__c", F.lit(float(max_epochs)) * F.col("__w")
    ).select(
        source_col, "__w", "__c",
        F.sum("__c").over(order.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).alias("__p"),
        F.row_number().over(order).alias("__i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__k"),
        (F.lit(float(budget_epochs))
         * F.sum("__w").over(Window.partitionBy())).alias("__B"),
    )
    # source i (caps ascending) is capped iff, with 1..i taken whole,
    # the uniform share of the rest still covers its cap:
    # c_i·(k−i) ≤ B − P_i — a monotone predicate, so m = max such i
    capped = (F.col("__c") * (F.col("__k") - F.col("__i"))
              <= F.col("__B") - F.col("__p"))
    mrow = lvl.agg(
        F.coalesce(F.max(F.when(capped, F.col("__i"))), F.lit(0)).alias("__m"),
        # __p is nondecreasing in __i, so max over capped rows IS P_m
        F.coalesce(F.max(F.when(capped, F.col("__p"))),
                   F.lit(0.0)).alias("__pm"),
    )
    eps = lvl.crossJoin(F.broadcast(mrow)).select(
        source_col,
        (F.when(F.col("__i") <= F.col("__m"), F.col("__c"))
         .otherwise((F.col("__B") - F.col("__pm"))
                    / (F.col("__k") - F.col("__m")).cast("double"))
         / F.col("__w")).alias("__e"),
    ).select(
        source_col,
        F.floor("__e").alias("__nf"),
        F.floor(F.lit(float(_BUCKETS))
                * (F.col("__e") - F.floor("__e"))).alias("__t"),
    )
    nc = (F.col("__nf")
          + (_bucket(id_col, salt) < F.col("__t")).cast("bigint"))
    return (
        df.join(F.broadcast(eps), source_col)
        .withColumn("__nc", nc)
        .filter(F.col("__nc") >= 1)
        .withColumn(epoch_col, F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("__nc") - 1,
                       F.lit(1).cast("bigint"))))
        .drop("__nf", "__t", "__nc")
    )


def unimax_mix_sql(
    src: str,
    source_expr: str,
    id_expr: str,
    budget_epochs: float,
    max_epochs: float = 1.0,
    salt: str = "umax",
    weight_expr: str | None = None,
    epoch_col: str = "epoch",
) -> str:
    """DuckDB mirror of :func:`unimax_mix`, bit-for-bit under the
    integral-``max_epochs`` contract there: same cap ordering, same
    monotone capped-prefix predicate, same two divisions, same hash
    threshold, same per-copy UNNEST(generate_series) expansion."""
    w = "CAST(COUNT(*) AS DOUBLE)" if weight_expr is None \
        else f"CAST(SUM({weight_expr}) AS DOUBLE)"
    b = _bucket_sql(id_expr, salt)
    return f"""
    WITH __mass AS (
        SELECT {source_expr} AS __src, {w} AS __w
        FROM {src} GROUP BY 1
    ),
    __lvl AS (
        SELECT __src, __w, {float(max_epochs)} * __w AS __c,
               SUM({float(max_epochs)} * __w) OVER (
                   ORDER BY {float(max_epochs)} * __w, __src
                   ROWS UNBOUNDED PRECEDING) AS __p,
               ROW_NUMBER() OVER (
                   ORDER BY {float(max_epochs)} * __w, __src) AS __i,
               COUNT(*) OVER () AS __k,
               {float(budget_epochs)} * SUM(__w) OVER () AS __B
        FROM __mass
    ),
    __m AS (
        SELECT COALESCE(MAX(CASE WHEN __c * (__k - __i) <= __B - __p
                                 THEN __i END), 0) AS __m,
               COALESCE(MAX(CASE WHEN __c * (__k - __i) <= __B - __p
                                 THEN __p END), 0.0) AS __pm
        FROM __lvl
    ),
    __eps AS (
        SELECT __src,
               CAST(floor(__e) AS BIGINT) AS __nf,
               CAST(floor({float(_BUCKETS)} * (__e - floor(__e)))
                    AS BIGINT) AS __t
        FROM (
            SELECT l.__src,
                   (CASE WHEN l.__i <= m.__m THEN l.__c
                         ELSE (l.__B - m.__pm)
                              / CAST(l.__k - m.__m AS DOUBLE) END)
                   / l.__w AS __e
            FROM __lvl l CROSS JOIN __m m
        )
    )
    SELECT d.* EXCLUDE (__srcv), u.{epoch_col}
    FROM (SELECT *, {source_expr} AS __srcv FROM {src}) d
    JOIN __eps ON __eps.__src = d.__srcv
    CROSS JOIN UNNEST(generate_series(
        0, __eps.__nf + (CASE WHEN {b} < __eps.__t THEN 1 ELSE 0 END) - 1
    )) AS u({epoch_col})
    """


# ---------------------------------------------------------------------------
# Stratified exact-count sampling
# ---------------------------------------------------------------------------

def stratified_sample_exact(
    df: DataFrame,
    group_cols: Sequence[str],
    n: int,
    id_col: str,
    salt: str = "strat",
    pre_split: int | None = None,
) -> DataFrame:
    """EXACTLY ``n`` rows per group (fewer only when the group is smaller),
    chosen deterministically: rows rank by (portable hash(id, salt), id) —
    a total order — and the first ``n`` win.  Same-seed runs, re-runs, and
    other engines pick the SAME rows (the SQL mirror below), unlike
    ``df.sampleBy`` which is fraction-based, rng-seeded, and only
    approximate in count.

    Rides :func:`relational.topk_per_group`: one shuffle on the group
    keys; a pathologically hot group (50%+ of the corpus in one stratum
    is common — e.g. sampling per-language with English dominant) uses
    ``pre_split`` for the two-level tournament instead of one partition's
    sort.  Re-salt via ``salt`` for independent replicate samples."""
    from map_reduce_folds_spark.operators.relational import topk_per_group

    order = [_bucket(id_col, salt), F.col(id_col)]
    return topk_per_group(df, list(group_cols), order, n, pre_split=pre_split)


def stratified_sample_sql(
    group_expr: str, n: int, id_expr: str, salt: str = "strat"
) -> str:
    """Oracle fragment mirroring :func:`stratified_sample_exact`: a QUALIFY
    predicate over the same hash order (append to a SELECT)."""
    return (
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {group_expr} "
        f"ORDER BY {_bucket_sql(id_expr, salt)}, {id_expr}) <= {n}"
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

#: 2^60 — the hash60 value space; (h+1)/2^60 maps the hash into (0, 1].
_H60_SPACE = 1 << 60


def _es_key(weight: Column, id_col: str, salt: str) -> Column:
    """The Efraimidis–Spirakis sort key ln(u)/w with the deterministic
    uniform u = (hash60(id)+1)/2^60 ∈ (0,1].  Ranking by u^(1/w)
    descending is exactly ranking by ln(u)/w descending (ln is monotone,
    ln(u) ≤ 0, w > 0) — the ln form avoids pow's extreme dynamic range
    for large weights."""
    u = (hash60(F.col(id_col).cast("string"), salt) + F.lit(1)) \
        / F.lit(float(_H60_SPACE))
    return F.ln(u) / weight


def weighted_sample_exact(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str,
    group_cols: Sequence[str] | None = None,
    salt: str = "wsample",
    pre_split: int | None = None,
) -> DataFrame:
    """EXACTLY ``n`` rows sampled WITHOUT replacement with probability
    proportional to ``weight_col`` — Efraimidis & Spirakis (IPL 2006,
    public literature): each row gets key u^(1/w) with u uniform in
    (0,1], the n largest keys win.  u comes from the portable id hash,
    so the sample is deterministic, partition-independent, engine-exact
    (SQL mirror :func:`weighted_sample_sql`), and re-saltable for
    independent replicates.

    Rows with weight ≤ 0 or NULL are excluded (zero mass).  Global form
    (``group_cols=None``) compiles to TakeOrderedAndProject — per-partition
    top-n, driver merge, no full sort; per-group form rides
    :func:`relational.topk_per_group` (one shuffle; ``pre_split`` is the
    hot-group escape hatch).  100 TB shape: a scan plus a top-n — the
    classic one-pass distributed weighted reservoir.

    Float caveat: the key uses ln(), whose last-ulp rounding is not
    pinned by IEEE across engines; selection only flips if the nth and
    (n+1)th keys collide within ~1 ulp, which hash-spread keys make
    astronomically unlikely (the oracle gate would catch it loudly)."""
    from map_reduce_folds_spark.operators.relational import topk, topk_per_group

    w = F.col(weight_col).cast("double")
    eligible = df.where(w.isNotNull() & (w > 0))
    order = [_es_key(w, id_col, salt).desc(), F.col(id_col)]
    if group_cols:
        return topk_per_group(eligible, list(group_cols), order, n,
                              pre_split=pre_split)
    return topk(eligible, order, n)


def weighted_sample_sql(
    weight_expr: str, n: int, id_expr: str,
    group_expr: str | None = None, salt: str = "wsample",
) -> str:
    """Oracle fragment mirroring :func:`weighted_sample_exact`: a QUALIFY
    predicate over the same ES key (append to a SELECT; add the same
    weight filter in the WHERE clause)."""
    h = hash60_sql(f"CAST({id_expr} AS VARCHAR)", salt)
    key = f"ln(({h} + 1) / {float(_H60_SPACE)!r}) / CAST({weight_expr} AS DOUBLE)"
    part = f"PARTITION BY {group_expr} " if group_expr else ""
    return (
        f"QUALIFY ROW_NUMBER() OVER ({part}"
        f"ORDER BY {key} DESC, {id_expr}) <= {n}"
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training pairs)
# ---------------------------------------------------------------------------

def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int,
    salt: str = "neg",
    corpus_count: int | None = None,
) -> DataFrame:
    """``k`` deterministic uniform negatives per row: ``(id, neg_idx,
    neg_id)`` with ``neg_id ≠ id`` guaranteed — the negative-sampling
    step of contrastive embedding training, reproducible across engines,
    runs, and partitionings (no RNG state to shard).

    Construction: rows get dense positions from the deterministic corpus
    shuffle (:func:`deterministic_shuffle` — parallel bucketed ranks, no
    single-task sort); negative ``i`` of a row is the row at position
    ``(pos + offᵢ) mod N`` where ``offᵢ = 1 + hash(id, salt·i) mod
    (N−1)`` — offsets never ≡ 0 (mod N), so a row can never draw itself,
    and each row's negatives are uniform over the other N−1 rows.  One
    explode (k rows each) + one position-keyed join back to ids; N is a
    driver count (``corpus_count`` skips it when the caller knows the
    cardinality)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pos = deterministic_shuffle(df.select(id_col), id_col, salt=f"{salt}_pos") \
        .localCheckpoint(eager=False)
    n = corpus_count if corpus_count is not None else pos.count()
    if n < 2:
        raise ValueError("negative sampling needs at least 2 rows")
    offs = F.array(*[
        (hash60(F.col(id_col).cast("string"), f"{salt}{i}") % F.lit(n - 1))
        + F.lit(1)
        for i in range(k)
    ])
    wanted = pos.select(
        F.col(id_col), F.col("pos"),
        F.posexplode(offs).alias("neg_idx", "__off"),
    ).select(
        id_col, "neg_idx",
        # pos is 1-based: map to 0-based, offset, wrap, back to 1-based
        ((F.col("pos") - 1 + F.col("__off")) % F.lit(n) + 1).alias("__np"),
    )
    neg = pos.select(F.col("pos").alias("__np"),
                     F.col(id_col).alias("neg_id"))
    out = wanted.join(neg, "__np").select(id_col, "neg_idx", "neg_id")
    return out


def negative_samples_sql(id_expr: str, src: str, k: int,
                         salt: str = "neg") -> str:
    """DuckDB mirror of :func:`negative_samples` (same shuffle order,
    same offsets)."""
    order = deterministic_shuffle_sql(id_expr, salt=f"{salt}_pos")
    offs = ", ".join(
        "((" + hash60_sql("CAST(p.id AS VARCHAR)", f"{salt}{i}")
        + ") % (nn.n - 1)) + 1"
        for i in range(k)
    )
    return f"""
    WITH pos AS (SELECT {id_expr} AS id, {order} AS pos FROM {src}),
    nn AS (SELECT COUNT(*) AS n FROM pos),
    wanted AS (
        SELECT p.id, g.i AS neg_idx,
               ((p.pos - 1 + g.off) % nn.n) + 1 AS np
        FROM pos p, nn, LATERAL (
            SELECT unnest([{offs}]) AS off,
                   unnest(range({k})) AS i
        ) g
    )
    SELECT w.id AS {id_expr}, CAST(w.neg_idx AS INT) AS neg_idx,
           n2.id AS neg_id
    FROM wanted w JOIN pos n2 ON n2.pos = w.np
    """


def pack_by_token_budget(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    salt: str = "pack",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Assign every row to a training SHARD by packing the deterministic
    corpus shuffle into fixed token budgets: rows are laid out in
    :func:`deterministic_shuffle` order and row r lands in shard
    ``floor(tokens_before_r / budget)`` — the "pack documents into ~N-token
    training files" step of a pretraining data pipeline, with no RNG
    state and the same assignment on every engine and cluster size.

    Start-offset packing: a row whose tokens straddle a budget boundary
    belongs to the shard where its FIRST token falls, so shards overflow
    by at most one document (the standard approximation; exact bin
    packing is NP-hard and order-destroying).  ``token_col`` must be
    integral and non-negative.

    Plan shape: the running total is :func:`windows.ordered_prefix_sum`
    — the bucketed distributed prefix decomposition, never a single-task
    global ``ORDER BY`` window; the shuffle positions come from the same
    hash-order machinery as :func:`deterministic_shuffle`.  Output: the
    input rows plus ``(pos, shard_col)``."""
    from map_reduce_folds_spark.operators.windows import ordered_prefix_sum

    if budget <= 0:
        raise ValueError(f"pack_by_token_budget: budget must be > 0, "
                         f"got {budget}")
    shuffled = deterministic_shuffle(df, id_col, salt=salt)
    packed = ordered_prefix_sum(shuffled, "pos", token_col,
                                out_col="__cum_before")
    return packed.withColumn(
        shard_col,
        (F.col("__cum_before") / F.lit(int(budget))).cast("bigint"),
    ).drop("__cum_before")


def bernoulli_sample(
    df: DataFrame,
    id_col: str,
    rate: float,
    salt: str = "bern",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its salted id-hash
    bucket falls below ``round(rate·10^6)`` — the same fixed-denominator
    rational the split/shuffle family uses, so the EXACT inclusion
    probability is ``threshold / 10^6`` (known, not approximate — what a
    Horvitz–Thompson estimator divides by).  Re-salt for an independent
    draw; scan-local, no shuffle."""
    thr = _rate_threshold("rate", rate)
    return df.where(_bucket(id_col, salt) < thr)


def bernoulli_sample_sql(id_expr: str, rate: float,
                         salt: str = "bern") -> str:
    """DuckDB predicate mirroring :func:`bernoulli_sample`."""
    thr = _rate_threshold("rate", rate)
    return f"{_bucket_sql(id_expr, salt)} < {thr}"


def ht_total_estimate(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_cols: list[str],
    rate: float,
    salt: str = "bern",
) -> DataFrame:
    """Horvitz–Thompson total estimator from the deterministic Bernoulli
    sample: every sampled row's value is inflated by its KNOWN inverse
    inclusion probability (10^6 / threshold — one exact bigint product,
    one terminal division), giving an unbiased estimate of the per-group
    total WITHOUT scanning the unsampled rows — the survey-sampling
    accounting a size-estimation pass over a 100 TB corpus runs on its
    1% sample.  Output per group: ``n_sampled``, ``est_total``
    (double)."""
    thr = _rate_threshold("rate", rate)
    s = bernoulli_sample(df, id_col, rate, salt)
    return s.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        ((F.sum(F.col(value_col)).cast("double") * _BUCKETS) / thr)
        .alias("est_total"))


def neyman_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    total_n: int,
    id_col: str,
    salt: str = "neyman",
) -> DataFrame:
    """Neyman-optimal stratified sampling: allocate a TOTAL budget of
    ``total_n`` rows across strata proportionally to ``N_h·σ_h`` (the
    allocation minimizing the stratified-mean variance — Neyman 1934),
    then draw each stratum's share deterministically by the hash order
    (the ``stratified_sample_exact`` discipline).

    Exactness: ``N_h·σ_h = √(N_h·Σx² − (Σx)²)`` — the square root of an
    EXACT integer (DECIMAL-staged population-variance numerator), so
    the weights carry no accumulation-order noise; the weight total is
    a sorted-array fold over the (bounded) strata relation; integer
    targets use floor + largest-remainder (ties broken by stratum key,
    rank via a count-comparison over the tiny strata relation — no
    global-order window).  Realized counts cap at the stratum size
    (textbook Neyman without the reallocation iteration — document the
    shortfall, don't hide it).

    Shape: one moment aggregation (map-side combinable), bounded strata
    arithmetic, one partitioned rank window + broadcast allocation
    join over the data.  Output: the sampled rows of ``df``."""
    from pyspark.sql.window import Window

    x = F.col(value_col).cast("bigint")
    mom = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nh"),
        F.sum(x.cast("decimal(38,0)")).alias("__sx"),
        F.sum((x * x).cast("decimal(38,0)")).alias("__sxx"),
    )
    w = F.sqrt((F.col("__nh") * F.col("__sxx")
                - F.col("__sx") * F.col("__sx")).cast("double"))
    strata = mom.select(group_col, "__nh", w.alias("__w"))
    tot_pairs = F.array_sort(F.collect_list(
        F.struct(F.col(group_col), F.col("__w"))))
    tot = strata.agg(F.aggregate(
        tot_pairs, F.lit(0.0), lambda a, s: a + s["__w"]).alias("__tw"))
    st = strata.crossJoin(F.broadcast(tot))  # one-row total — scalar idiom
    share = F.when(F.col("__tw") > 0,
                   F.col("__w") / F.col("__tw")).otherwise(F.lit(0.0))
    st = st.select(
        group_col, "__nh",
        F.floor(F.lit(float(total_n)) * share).cast("bigint").alias("__fl"),
        (F.lit(float(total_n)) * share
         - F.floor(F.lit(float(total_n)) * share)).alias("__rem"),
    )
    fl_pairs = F.array_sort(F.collect_list(
        F.struct(F.col(group_col), F.col("__fl"))))
    fl_tot = st.agg(F.aggregate(
        fl_pairs, F.lit(0).cast("bigint"),
        lambda a, s: a + s["__fl"]).alias("__ft"))
    # largest-remainder rank by pairwise comparison over the tiny strata
    # relation (deterministic, no global-order window): strata strictly
    # ahead of h = bigger remainder, or equal remainder and smaller key
    o = st.select(F.col(group_col).alias("__og"),
                  F.col("__rem").alias("__orem"))
    ranked = (
        st.join(o, (F.col("__orem") > F.col("__rem"))
                | ((F.col("__orem") == F.col("__rem"))
                   & (F.col("__og") < F.col(group_col))), "left")
        .groupBy(group_col, "__nh", "__fl", "__rem")
        .agg(F.count("__og").cast("bigint").alias("__rank"))
    )
    alloc = (
        ranked.crossJoin(F.broadcast(fl_tot))
        .select(
            group_col, "__nh",
            (F.col("__fl")
             + F.when(F.col("__rank") < F.lit(total_n) - F.col("__ft"), 1)
             .otherwise(0)).cast("bigint").alias("n_target"),
        )
    )
    wn = Window.partitionBy(group_col).orderBy(
        _bucket(id_col, salt), F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(wn))
        .join(F.broadcast(alloc.select(group_col, "n_target")), group_col)
        .where(F.col("__rn") <= F.col("n_target"))
        .drop("__rn", "n_target")
    )


def neyman_sample_sql(
    table: str,
    group_col: str,
    value_expr: str,
    total_n: int,
    id_expr: str,
    salt: str = "neyman",
    select: str = "*",
) -> str:
    """DuckDB mirror of :func:`neyman_sample` — HUGEINT moment
    arithmetic, the same sorted-fold weight total, the same pairwise
    largest-remainder rank, the same hash draw order."""
    return f"""
    WITH mom AS (
      SELECT {group_col} AS g,
             CAST(COUNT(*) AS BIGINT) AS nh,
             SUM(CAST({value_expr} AS HUGEINT)) AS sx,
             SUM(CAST({value_expr} AS HUGEINT)
                 * CAST({value_expr} AS HUGEINT)) AS sxx
      FROM {table} GROUP BY 1
    ),
    strata AS (
      SELECT g, nh, sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)) AS w
      FROM mom
    ),
    tot AS (
      SELECT list_reduce(
               list_prepend(0.0, list_sort(list({{'g': g, 'w': w}}))
                            .apply(e -> e.w)),
               (a, x) -> a + x) AS tw
      FROM strata
    ),
    st AS (
      SELECT g, nh,
             CAST(FLOOR({float(total_n)!r}
                        * (CASE WHEN tw > 0 THEN w / tw ELSE 0.0 END))
                  AS BIGINT) AS fl,
             {float(total_n)!r}
               * (CASE WHEN tw > 0 THEN w / tw ELSE 0.0 END)
               - FLOOR({float(total_n)!r}
                       * (CASE WHEN tw > 0 THEN w / tw ELSE 0.0 END)) AS rem
      FROM strata CROSS JOIN tot
    ),
    ft AS (
      SELECT CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_sort(list({{'g': g, 'f': fl}}))
                            .apply(e -> e.f)),
               (a, x) -> a + x) AS BIGINT) AS ftot
      FROM st
    ),
    ranked AS (
      SELECT s.g, s.nh, s.fl, s.rem,
             CAST(COUNT(o.g) AS BIGINT) AS rnk
      FROM st s LEFT JOIN st o
        ON (o.rem > s.rem) OR (o.rem = s.rem AND o.g < s.g)
      GROUP BY s.g, s.nh, s.fl, s.rem
    ),
    alloc AS (
      SELECT g, CAST(fl + CASE WHEN rnk < {total_n} - ftot THEN 1 ELSE 0 END
                     AS BIGINT) AS n_target
      FROM ranked CROSS JOIN ft
    )
    SELECT {select}
    FROM (
      SELECT t.*,
             ROW_NUMBER() OVER (
               PARTITION BY t.{group_col}
               ORDER BY {_bucket_sql(id_expr, salt)}, {id_expr}) AS rn,
             a.n_target
      FROM {table} t JOIN alloc a ON a.g = t.{group_col}
    ) WHERE rn <= n_target
    """


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------

#: Poisson(1) CDF thresholds scaled to the hash60 space: a 60-bit hash
#: h < _POIS1_T60[k] iff a Uniform(0,1] draw lands below CDF(k), so the
#: replicate weight is the count of thresholds ABOVE h (inverse-CDF
#: sampling with pure INTEGER comparisons — no float literal crosses an
#: engine boundary).  Tail capped at 7 (P ≈ 8e-6 per draw).
_POIS1_T60 = (
    424136118829305344,    # CDF(0) = e^-1
    848272237658610688,    # CDF(1)
    1060340297073263360,   # CDF(2)
    1131029650211480960,   # CDF(3)
    1148701988496035328,   # CDF(4)
    1152236456152946176,   # CDF(5)
    1152825534095764608,   # CDF(6)
)


def _pois1_weight(h: Column) -> Column:
    w = F.lit(7)
    for k in reversed(range(7)):
        w = F.when(h < F.lit(_POIS1_T60[k]), F.lit(k)).otherwise(w)
    return w


def _pois1_weight_sql(h_expr: str) -> str:
    branches = " ".join(
        f"WHEN {h_expr} < {t} THEN {k}"
        for k, t in enumerate(_POIS1_T60))
    return f"(CASE {branches} ELSE 7 END)"


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    tail_permille: int = 50,
    salt: str = "boot",
) -> DataFrame:
    """Bootstrap percentile CI for the per-group MEAN via the POISSON
    BOOTSTRAP (Hanley & MacGibbon 2006; the single-pass streaming
    bootstrap used for massive-data inference — each replicate draws a
    Poisson(1) multiplicity per row instead of resampling n-of-n, so
    replicates never materialize and the whole computation is one scan
    + one (keys, replicate) aggregation, map-side combinable).

    Determinism: replicate b's weight for a row is inverse-CDF
    Poisson(1) evaluated on the portable ``hash60(salt‖b‖id)`` with
    pure integer threshold comparisons (``_POIS1_T60`` — no float
    literal ever crosses an engine boundary), so every replicate is a
    pure function of the row id: partition-independent, re-saltable,
    and exactly mirrored by :func:`poisson_bootstrap_mean_ci_sql`.
    Replicate means are single exact-integer-sum divisions; the
    percentile bounds are ORDER STATISTICS of the ≤``n_boot``-element
    sorted (mean, b) list — lower = s[⌊m·t⌋+1], upper = s[⌈m·(1−t)⌉]
    (1-based; m = replicates with positive total weight), where
    ``t = tail_permille/1000`` is the mass cut from EACH TAIL, carried
    in permille so the indices are integer arithmetic.  The default 50
    yields a 90% CI; pass ``tail_permille=25`` for 95%.  (Named
    ``tail_permille``, not ``alpha_permille``, precisely because it is
    per-tail — ``bh_fdr``/conformal use ``alpha_permille`` for TOTAL
    α and the two must not be conflated.)  Integer-valued
    ``value_col`` required.

    Output: ``keys…, n, mean, ci_lo, ci_hi, n_boot_valid``.

    Composes :func:`poisson_bootstrap_moments` (a pure-additive
    MERGEABLE moment relation — batches union with
    :func:`poisson_bootstrap_merge` and the merged CI is bitwise the
    whole-corpus CI, the incremental-aggregate-maintenance story) with
    :func:`poisson_bootstrap_ci_from_moments`.
    """
    return poisson_bootstrap_ci_from_moments(
        poisson_bootstrap_moments(df, value_col, id_col, keys=keys,
                                  n_boot=n_boot, salt=salt),
        keys=keys, tail_permille=tail_permille)


def poisson_bootstrap_moments(
    df: DataFrame,
    value_col: str,
    id_col: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    salt: str = "boot",
) -> DataFrame:
    """The bootstrap's MERGEABLE MOMENT RELATION: one row per
    ``(keys…, __b, __swx, __sw)`` where __b ≥ 0 carries replicate b's
    weighted sums and the sentinel __b = −1 carries the base moments
    (weight 1: __sw = n, __swx = Σx).  Sums are a monoid, so batch
    relations merged by :func:`poisson_bootstrap_merge` equal the
    whole-corpus relation EXACTLY."""
    df, gkeys = _with_group_cols(df, keys)
    b = F.explode(
        F.sequence(F.lit(-1), F.lit(int(n_boot) - 1))).alias("__b")
    h = hash60(
        F.concat_ws(":", F.lit(salt), F.col("__b").cast("string"),
                    F.col("__id").cast("string")))
    w = F.when(F.col("__b") < 0, F.lit(1)).otherwise(_pois1_weight(h))
    rows = (
        df.select(*gkeys, F.col(id_col).alias("__id"),
                  F.col(value_col).cast("bigint").alias("__x"), b)
        .withColumn("__w", w)
    )
    return (
        rows.groupBy(*gkeys, "__b")
        .agg(F.sum(F.col("__w") * F.col("__x")).alias("__swx"),
             F.sum("__w").alias("__sw"))
    )


def poisson_bootstrap_merge(*relations: DataFrame) -> DataFrame:
    """Merge per-batch bootstrap moment relations by additive union —
    exact because integer sums are associative and commutative."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), relations)
    gkeys = [c for c in u.columns if c not in ("__swx", "__sw")]
    return u.groupBy(*gkeys).agg(
        F.sum("__swx").alias("__swx"), F.sum("__sw").alias("__sw"))


def poisson_bootstrap_ci_from_moments(
    moments: DataFrame,
    keys: Sequence[str] = (),
    tail_permille: int = 50,
) -> DataFrame:
    """Finish a (merged) moment relation into the CI output of
    :func:`poisson_bootstrap_mean_ci` — replicate means, sorted order
    statistics, and the __b = −1 base row's exact mean."""
    gkeys = list(keys) or ["__g"]
    rep = (
        moments.where((F.col("__b") >= 0) & (F.col("__sw") > 0))
        .select(*gkeys, "__b",
                (F.col("__swx").cast("double")
                 / F.col("__sw").cast("double")).alias("__m"))
    )
    reps = rep.groupBy(*gkeys).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("__m").alias("m"),
                     F.col("__b").alias("b")))).alias("__arr"))
    base = moments.where(F.col("__b") == -1).select(
        *gkeys, F.col("__sw").alias("n"),
        (F.col("__swx").cast("double")
         / F.col("__sw").cast("double")).alias("mean"))
    m = F.size("__arr").cast("bigint")
    a2 = int(tail_permille)
    # positive-quotient truncation = floor; ceil(x/1000) = (x+999) div 1000
    lo_i = (m * a2 / F.lit(1000)).cast("bigint") + 1
    hi_i = ((m * (1000 - a2) + 999) / F.lit(1000)).cast("bigint")
    out = base.join(reps, gkeys).select(
        *(list(keys) or []), "n", "mean",
        F.element_at("__arr", lo_i.cast("int"))["m"].alias("ci_lo"),
        F.element_at("__arr", hi_i.cast("int"))["m"].alias("ci_hi"),
        m.alias("n_boot_valid"))
    return out


def _with_group_cols(df: DataFrame, keys: Sequence[str]):
    if keys:
        return df, list(keys)
    return df.withColumn("__g", F.lit(1)), ["__g"]


def poisson_bootstrap_mean_ci_sql(
    table: str,
    value_expr: str,
    id_expr: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    tail_permille: int = 50,
    salt: str = "boot",
) -> str:
    """DuckDB mirror of :func:`poisson_bootstrap_mean_ci` — identical
    integer-threshold weights, single-division replicate means, and
    order-statistic indices."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    kout = kpref
    a2 = int(tail_permille)
    h = hash60_sql(
        f"concat('{salt}', ':', CAST(b.b AS VARCHAR), ':', "
        f"CAST({id_expr} AS VARCHAR))")
    return f"""
    WITH rows_ AS (
        SELECT {kpref}{id_expr} AS id_,
               CAST({value_expr} AS BIGINT) AS x, b.b AS b,
               {_pois1_weight_sql(h)} AS w
        FROM {table} t CROSS JOIN (
            SELECT unnest(generate_series(0, {int(n_boot) - 1})) AS b) b
    ),
    rep AS (
        SELECT {kpref}b,
               CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
        FROM rows_ GROUP BY {kpref}b
        HAVING SUM(w) > 0
    ),
    reps AS (
        SELECT {kpref}list_sort(list({{'m': m, 'b': b}})) AS arr
        FROM rep {grp}
    ),
    base AS (
        SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mean
        FROM {table} {grp}
    )
    SELECT {kout}n, mean,
           arr[CAST(len(arr) * {a2} // 1000 AS BIGINT) + 1].m AS ci_lo,
           arr[CAST((len(arr) * {1000 - a2} + 999) // 1000 AS BIGINT)].m
               AS ci_hi,
           CAST(len(arr) AS BIGINT) AS n_boot_valid
    FROM base {"JOIN reps USING (" + kcols + ")" if keys
               else "CROSS JOIN reps"}
    """


def poisson_bootstrap_ratio_ci(
    df: DataFrame,
    num_col: str,
    den_col: str,
    id_col: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    tail_permille: int = 50,
    salt: str = "boot",
) -> DataFrame:
    """Percentile CI for the per-group RATIO ``Σnum/Σden`` under the
    same deterministic Poisson bootstrap as
    :func:`poisson_bootstrap_mean_ci` — the estimator family (rates,
    chars-per-token, revenue-per-order) whose standard error has NO
    closed form, which is what the bootstrap is FOR.  Identical integer
    threshold weights, replicate ratios as single exact-integer-sum
    divisions, the same order-statistic bounds; replicates with
    non-positive denominator mass are excluded from the order
    statistics (counted out of ``n_boot_valid``).

    Output: ``keys…, n, ratio, ci_lo, ci_hi, n_boot_valid``.
    """
    df, gkeys = _with_group_cols(df, keys)
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1))).alias("__b")
    h = hash60(
        F.concat_ws(":", F.lit(salt), F.col("__b").cast("string"),
                    F.col("__id").cast("string")))
    rows = (
        df.select(*gkeys, F.col(id_col).alias("__id"),
                  F.col(num_col).cast("bigint").alias("__xn"),
                  F.col(den_col).cast("bigint").alias("__xd"), b)
        .withColumn("__w", _pois1_weight(h))
    )
    rep = (
        rows.groupBy(*gkeys, "__b")
        .agg(F.sum(F.col("__w") * F.col("__xn")).alias("__swn"),
             F.sum(F.col("__w") * F.col("__xd")).alias("__swd"))
        .where(F.col("__swd") > 0)
        .select(*gkeys, "__b",
                (F.col("__swn").cast("double")
                 / F.col("__swd").cast("double")).alias("__m"))
    )
    reps = rep.groupBy(*gkeys).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("__m").alias("m"),
                     F.col("__b").alias("b")))).alias("__arr"))
    base = df.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col(num_col).cast("bigint")).cast("double")
         / F.sum(F.col(den_col).cast("bigint")).cast("double"))
        .alias("ratio"))
    m = F.size("__arr").cast("bigint")
    a2 = int(tail_permille)
    lo_i = (m * a2 / F.lit(1000)).cast("bigint") + 1
    hi_i = ((m * (1000 - a2) + 999) / F.lit(1000)).cast("bigint")
    return base.join(reps, gkeys).select(
        *(list(keys) or []), "n", "ratio",
        F.element_at("__arr", lo_i.cast("int"))["m"].alias("ci_lo"),
        F.element_at("__arr", hi_i.cast("int"))["m"].alias("ci_hi"),
        m.alias("n_boot_valid"))


def poisson_bootstrap_ratio_ci_sql(
    table: str,
    num_expr: str,
    den_expr: str,
    id_expr: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    tail_permille: int = 50,
    salt: str = "boot",
) -> str:
    """DuckDB mirror of :func:`poisson_bootstrap_ratio_ci`."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    a2 = int(tail_permille)
    h = hash60_sql(
        f"concat('{salt}', ':', CAST(b.b AS VARCHAR), ':', "
        f"CAST({id_expr} AS VARCHAR))")
    return f"""
    WITH rows_ AS (
        SELECT {kpref}CAST({num_expr} AS BIGINT) AS xn,
               CAST({den_expr} AS BIGINT) AS xd, b.b AS b,
               {_pois1_weight_sql(h)} AS w
        FROM {table} t CROSS JOIN (
            SELECT unnest(generate_series(0, {int(n_boot) - 1})) AS b) b
    ),
    rep AS (
        SELECT {kpref}b,
               CAST(SUM(w * xn) AS DOUBLE) / CAST(SUM(w * xd) AS DOUBLE)
                   AS m
        FROM rows_ GROUP BY {kpref}b
        HAVING SUM(w * xd) > 0
    ),
    reps AS (
        SELECT {kpref}list_sort(list({{'m': m, 'b': b}})) AS arr
        FROM rep {grp}
    ),
    base AS (
        SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({num_expr} AS BIGINT)) AS DOUBLE)
                   / CAST(SUM(CAST({den_expr} AS BIGINT)) AS DOUBLE)
                   AS ratio
        FROM {table} {grp}
    )
    SELECT {kpref}n, ratio,
           arr[CAST(len(arr) * {a2} // 1000 AS BIGINT) + 1].m AS ci_lo,
           arr[CAST((len(arr) * {1000 - a2} + 999) // 1000 AS BIGINT)].m
               AS ci_hi,
           CAST(len(arr) AS BIGINT) AS n_boot_valid
    FROM base {"JOIN reps USING (" + kcols + ")" if keys
               else "CROSS JOIN reps"}
    """


def poisson_bootstrap_stratified_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    strata_col: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    tail_permille: int = 50,
    salt: str = "boot",
) -> DataFrame:
    """Percentile CI for the STRATIFIED mean — per-stratum resampling
    with FIXED population stratum weights ``N_h/N`` (the design-correct
    bootstrap for stratified/quota-sampled corpora: a plain bootstrap
    lets stratum masses fluctuate across replicates, inflating the SE
    exactly by the between-stratum variance the design removed).

    Replicate estimate = ``Σ_h (N_h/N) · (Σ_h w·x / Σ_h w)`` — each
    stratum's Poisson-reweighted mean (same integer-threshold
    ``_POIS1_T60`` draw as :func:`poisson_bootstrap_mean_ci`, same
    hash60(salt‖b‖id) determinism) combined under exact-integer
    ``N_h`` weights.  Bitwise-reproducible: each stratum term is
    ``double(N_h) · (double(Σwx)/double(Σw))`` and terms add in
    STRATUM-SORTED order (a fixed-parenthesization fold over the
    bounded strata list, never an unordered float SUM); one final
    division by ``double(N)``.  A replicate where ANY stratum draws
    zero total weight is excluded (out of ``n_boot_valid``) — the
    stratified estimator is undefined there.

    The point estimate is the plain exact mean (``Σ_h N_h·mean_h / N
    ≡ Σx/N``); only the replicate DISTRIBUTION differs from
    :func:`poisson_bootstrap_mean_ci`.  Integer ``value_col`` required.

    Output: ``keys…, n, mean, ci_lo, ci_hi, n_boot_valid``.  SQL mirror
    :func:`poisson_bootstrap_stratified_mean_ci_sql`.
    """
    df, gkeys = _with_group_cols(df, keys)
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1))).alias("__b")
    h = hash60(
        F.concat_ws(":", F.lit(salt), F.col("__b").cast("string"),
                    F.col("__id").cast("string")))
    rows = (
        df.select(*gkeys, F.col(strata_col).cast("string").alias("__s"),
                  F.col(id_col).alias("__id"),
                  F.col(value_col).cast("bigint").alias("__x"), b)
        .withColumn("__w", _pois1_weight(h))
    )
    per = rows.groupBy(*gkeys, "__s", "__b").agg(
        F.sum(F.col("__w") * F.col("__x")).alias("__swx"),
        F.sum("__w").alias("__sw"))
    nh = df.groupBy(*gkeys, F.col(strata_col).cast("string").alias("__s")) \
        .agg(F.count(F.lit(1)).cast("bigint").alias("__nh"))
    est = (
        per.join(nh, [*gkeys, "__s"])
        .groupBy(*gkeys, "__b")
        .agg(F.min("__sw").alias("__minw"),
             F.array_sort(F.collect_list(F.struct(
                 F.col("__s").alias("s"), F.col("__nh").alias("nh"),
                 F.col("__swx").alias("swx"),
                 F.col("__sw").alias("sw")))).alias("__terms"),
             F.sum("__nh").alias("__N"))
        .where(F.col("__minw") > 0)
        .select(*gkeys, "__b",
                (F.aggregate(
                    "__terms", F.lit(0.0),
                    lambda acc, t: acc + t["nh"].cast("double")
                    * (t["swx"].cast("double") / t["sw"].cast("double")))
                 / F.col("__N").cast("double")).alias("__m"))
    )
    reps = est.groupBy(*gkeys).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("__m").alias("m"),
                     F.col("__b").alias("b")))).alias("__arr"))
    base = df.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col(value_col).cast("bigint")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("mean"))
    m = F.size("__arr").cast("bigint")
    a2 = int(tail_permille)
    lo_i = (m * a2 / F.lit(1000)).cast("bigint") + 1
    hi_i = ((m * (1000 - a2) + 999) / F.lit(1000)).cast("bigint")
    return base.join(reps, gkeys).select(
        *(list(keys) or []), "n", "mean",
        F.element_at("__arr", lo_i.cast("int"))["m"].alias("ci_lo"),
        F.element_at("__arr", hi_i.cast("int"))["m"].alias("ci_hi"),
        m.alias("n_boot_valid"))


def poisson_bootstrap_stratified_mean_ci_sql(
    table: str,
    value_expr: str,
    id_expr: str,
    strata_expr: str,
    keys: Sequence[str] = (),
    n_boot: int = 200,
    tail_permille: int = 50,
    salt: str = "boot",
) -> str:
    """DuckDB mirror of :func:`poisson_bootstrap_stratified_mean_ci` —
    identical weights, identical stratum-sorted left fold, identical
    order-statistic indices."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    a2 = int(tail_permille)
    h = hash60_sql(
        f"concat('{salt}', ':', CAST(b.b AS VARCHAR), ':', "
        f"CAST({id_expr} AS VARCHAR))")
    return f"""
    WITH rows_ AS (
        SELECT {kpref}CAST({strata_expr} AS VARCHAR) AS s,
               CAST({value_expr} AS BIGINT) AS x, b.b AS b,
               {_pois1_weight_sql(h)} AS w
        FROM {table} t CROSS JOIN (
            SELECT unnest(generate_series(0, {int(n_boot) - 1})) AS b) b
    ),
    per AS (
        SELECT {kpref}s, b, CAST(SUM(w * x) AS BIGINT) AS swx,
               CAST(SUM(w) AS BIGINT) AS sw
        FROM rows_ GROUP BY {kpref}s, b
    ),
    nh AS (
        SELECT {kpref}CAST({strata_expr} AS VARCHAR) AS s,
               CAST(COUNT(*) AS BIGINT) AS nh
        FROM {table} GROUP BY {kpref}s
    ),
    est AS (
        SELECT {kpref}b,
               list_reduce(list_prepend(0.0, list_transform(
                   list_sort(list({{'s': s, 'nh': nh,
                                    'swx': swx, 'sw': sw}})),
                   t -> CAST(t.nh AS DOUBLE)
                        * (CAST(t.swx AS DOUBLE) / CAST(t.sw AS DOUBLE)))),
                   (p, q) -> p + q)
                   / CAST(SUM(nh) AS DOUBLE) AS m
        FROM per JOIN nh USING ({kpref.rstrip(', ') + ',' if keys else ''} s)
        GROUP BY {kpref}b
        HAVING MIN(sw) > 0
    ),
    reps AS (
        SELECT {kpref}list_sort(list({{'m': m, 'b': b}})) AS arr
        FROM est {grp}
    ),
    base AS (
        SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mean
        FROM {table} {grp}
    )
    SELECT {kpref}n, mean,
           arr[CAST(len(arr) * {a2} // 1000 AS BIGINT) + 1].m AS ci_lo,
           arr[CAST((len(arr) * {1000 - a2} + 999) // 1000 AS BIGINT)].m
               AS ci_hi,
           CAST(len(arr) AS BIGINT) AS n_boot_valid
    FROM base {"JOIN reps USING (" + kcols + ")" if keys
               else "CROSS JOIN reps"}
    """


def effective_sample_size(
    df: DataFrame,
    weight_col: str,
    keys: Sequence[str] = (),
    scale: int = 1_000_000,
) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE of a weighted relation (Kish 1965):
    ``ESS = (Σw)² / Σw²`` — "this reweighted corpus is worth ESS
    unweighted rows": the diagnostic every importance-resampling /
    mixture-reweighting step (DSIR, temperature mixing) should report
    before training on the weights, since a heavy-tailed weight
    distribution silently collapses the data's information content.

    Determinism: weights QUANTIZE to integer micro-units
    (``round(w·scale)``) so both sums are exact DECIMAL integers under
    any partitioning — a raw float Σw² would be accumulation-order
    nondeterministic; ESS and the ratio are single fixed chains.
    Rows with non-positive quantized weight contribute zero mass (and
    count toward n, as unweightable rows should).

    Output: ``keys…, n, ess, ess_ratio``.
    """
    df, gkeys = _with_group_cols(df, keys)
    wq = F.greatest(
        F.lit(0).cast("bigint"),
        F.round(F.col(weight_col) * F.lit(float(scale))).cast("bigint"))
    d = df.select(*gkeys, wq.alias("__wq"))
    a = d.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__wq").cast("decimal(38,0)")).alias("__sw"),
        F.sum((F.col("__wq") * F.col("__wq")).cast("decimal(38,0)"))
        .alias("__sww"))
    ess = F.when(
        F.col("__sww") > 0,
        F.col("__sw").cast("double") * F.col("__sw").cast("double")
        / F.col("__sww").cast("double"))
    return a.select(*(list(keys) or []), "n", ess.alias("ess"),
                    (ess / F.col("n").cast("double")).alias("ess_ratio"))


def effective_sample_size_sql(
    table: str,
    weight_expr: str,
    keys: Sequence[str] = (),
    scale: int = 1_000_000,
) -> str:
    """DuckDB mirror of :func:`effective_sample_size`."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    return f"""
    WITH d AS (
        SELECT {kpref}GREATEST(CAST(0 AS BIGINT),
                   CAST(round(({weight_expr}) * {float(scale)!r}e0)
                        AS BIGINT)) AS wq
        FROM {table}
    ),
    a AS (
        SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(wq AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sw,
               CAST(SUM(CAST(wq * wq AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sww
        FROM d {grp}
    )
    SELECT {kpref}n,
           CASE WHEN sww > 0 THEN
               CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
               / CAST(sww AS DOUBLE) END AS ess,
           CASE WHEN sww > 0 THEN
               (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
                / CAST(sww AS DOUBLE)) / CAST(n AS DOUBLE) END
               AS ess_ratio
    FROM a
    """


# ---------------------------------------------------------------------------
# Delete-one-group jackknife
# ---------------------------------------------------------------------------

_Z975 = 1.959963984540054  # standard-normal 0.975 quantile, fixed literal


def jackknife_ratio_ci(
    df: DataFrame,
    num_col: str,
    den_col: str,
    group_col: str,
) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE for the ratio ``Σnum/Σden`` (Quenouille
    1956, Tukey 1958; the delete-a-group form is the survey-inference
    workhorse, e.g. Kott 2001): leave each group h out, recompute the
    ratio from the REMAINING exact integer mass, and read the sampling
    variability of the estimator off the spread of the G leave-one-out
    ratios — ``var_J = (G−1)/G · Σ_h (θ_(h) − θ̄_·)²``.  The
    deterministic complement to :func:`poisson_bootstrap_ratio_ci`:
    no replicate draws at all, exact under ANY partitioning, and the
    right tool when the grouping (source, shard, day) IS the natural
    resampling unit.

    Determinism: per-group sums are exact DECIMAL(38,0) integers; each
    leave-one-out ratio is ONE exact integer subtraction and ONE
    correctly-rounded IEEE division; θ̄ and the squared-deviation sum
    fold LEFT-TO-RIGHT over the group-sorted bounded array (G groups —
    sources/shards, never corpus rows), so both engines walk identical
    double chains (no transcendental; sqrt is correctly rounded).  The
    CI is the normal-approximation interval θ ± z₀.₉₇₅·se_J.
    Degenerate inputs (G < 2, or any leave-one-out denominator ≤ 0)
    emit NULL jackknife columns; θ itself always emits.

    Output: one row ``(n, g_groups, theta, theta_jack, se_jack, ci_lo,
    ci_hi)`` where theta_jack is the mean of the leave-one-out ratios
    (bias diagnostic: G−1 times (theta_jack − theta)).  SQL mirror
    :func:`jackknife_ratio_ci_sql`.
    """
    g = (
        df.groupBy(F.col(group_col).alias("__g"))
        .agg(F.sum(F.col(num_col).cast("bigint")).cast("decimal(38,0)")
             .alias("__sn"),
             F.sum(F.col(den_col).cast("bigint")).cast("decimal(38,0)")
             .alias("__sd"),
             F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    a = g.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("__g").alias("g"), F.col("__sn").alias("sn"),
            F.col("__sd").alias("sd")))).alias("__arr"),
        F.sum("__sn").cast("decimal(38,0)").alias("__ts"),
        F.sum("__sd").cast("decimal(38,0)").alias("__td"),
        F.count(F.lit(1)).cast("bigint").alias("__gg"),
        F.sum("__c").cast("bigint").alias("__nrows"),
    )
    b = a.select(
        "__nrows", "__gg",
        (F.col("__ts").cast("double") / F.col("__td").cast("double"))
        .alias("__theta"),
        F.transform(
            F.col("__arr"),
            # guard keeps ANSI mode from raising on the (masked-out)
            # zero-denominator branch; __okd NULLs the outputs anyway
            lambda x: F.when(
                (F.col("__td") - x["sd"]) > 0,
                (F.col("__ts") - x["sn"]).cast("double")
                / (F.col("__td") - x["sd"]).cast("double"))
            .otherwise(F.lit(0.0))).alias("__th"),
        F.forall(F.col("__arr"),
                 lambda x: (F.col("__td") - x["sd"]) > 0).alias("__okd"),
    )
    c = b.withColumn(
        "__thbar",
        F.aggregate(F.col("__th"), F.lit(0.0), lambda acc, x: acc + x)
        / F.col("__gg").cast("double"))
    d = c.withColumn(
        "__ss",
        F.aggregate(
            F.col("__th"), F.lit(0.0),
            lambda acc, x: acc + (x - F.col("__thbar"))
            * (x - F.col("__thbar"))))
    gd = F.col("__gg").cast("double")
    se = F.sqrt(((gd - F.lit(1.0)) / gd) * F.col("__ss"))
    ok = (F.col("__gg") > 1) & F.col("__okd")
    return d.select(
        F.col("__nrows").alias("n"), F.col("__gg").alias("g_groups"),
        F.col("__theta").alias("theta"),
        F.when(ok, F.col("__thbar")).alias("theta_jack"),
        F.when(ok, se).alias("se_jack"),
        F.when(ok, F.col("__theta") - F.lit(_Z975) * se).alias("ci_lo"),
        F.when(ok, F.col("__theta") + F.lit(_Z975) * se).alias("ci_hi"))


def jackknife_ratio_ci_sql(
    table: str,
    num_expr: str,
    den_expr: str,
    group_expr: str,
) -> str:
    """DuckDB mirror of :func:`jackknife_ratio_ci` — identical DECIMAL
    group sums and the same left-folded double chains."""
    z = f"{_Z975!r}e0"
    return f"""
    WITH g AS (
        SELECT {group_expr} AS g,
               CAST(SUM(CAST({num_expr} AS BIGINT)) AS DECIMAL(38,0))
                   AS sn,
               CAST(SUM(CAST({den_expr} AS BIGINT)) AS DECIMAL(38,0))
                   AS sd,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1
    ),
    a AS (
        SELECT list_sort(list({{'g': g, 'sn': sn, 'sd': sd}})) AS arr,
               CAST(SUM(sn) AS DECIMAL(38,0)) AS ts,
               CAST(SUM(sd) AS DECIMAL(38,0)) AS td,
               CAST(COUNT(*) AS BIGINT) AS gg,
               CAST(SUM(c) AS BIGINT) AS n
        FROM g
    ),
    b AS (
        SELECT n, gg,
               CAST(ts AS DOUBLE) / CAST(td AS DOUBLE) AS theta,
               list_transform(arr, x -> CASE WHEN td - x.sd > 0
                   THEN CAST(ts - x.sn AS DOUBLE)
                       / CAST(td - x.sd AS DOUBLE)
                   ELSE 0.0 END) AS th,
               list_reduce(list_prepend(TRUE,
                   list_transform(arr, x -> td - x.sd > 0)),
                   (p, q) -> p AND q) AS okd
        FROM a
    ),
    c AS (
        SELECT n, gg, theta, th, okd,
               list_reduce(list_prepend(0.0, th), (p, q) -> p + q)
                   / CAST(gg AS DOUBLE) AS thbar
        FROM b
    ),
    d AS (
        SELECT n, gg, theta, okd, thbar,
               sqrt(((CAST(gg AS DOUBLE) - 1.0) / CAST(gg AS DOUBLE))
                   * list_reduce(list_prepend(0.0,
                       list_transform(th,
                           x -> (x - thbar) * (x - thbar))),
                       (p, q) -> p + q)) AS se
        FROM c
    )
    SELECT n, gg AS g_groups, theta,
           CASE WHEN gg > 1 AND okd THEN thbar END AS theta_jack,
           CASE WHEN gg > 1 AND okd THEN se END AS se_jack,
           CASE WHEN gg > 1 AND okd THEN theta - {z} * se END AS ci_lo,
           CASE WHEN gg > 1 AND okd THEN theta + {z} * se END AS ci_hi
    FROM d
    """


# ---------------------------------------------------------------------------
# Iterative proportional fitting (raking)
# ---------------------------------------------------------------------------

def ipf_rake_uniform(
    df: DataFrame,
    row_col: str,
    col_col: str,
    rounds: int = 5,
) -> DataFrame:
    """IPF / RAKING to uniform marginals (Deming & Stephan 1940; the
    survey-calibration workhorse): fit one weight per (row, col) cell
    so the WEIGHTED mass is uniform across observed rows AND across
    observed columns simultaneously — the two-constraint upgrade of
    temperature_mix/unimax (which balance ONE marginal): e.g. reweight
    a corpus so no source and no language dominates, without solving
    either margin at the other's expense.

    ``rounds`` full sweeps (row-step then col-step per round), FIXED —
    the kcore_peel determinism contract: both engines run exactly the
    same sweeps (SQL mirror :func:`ipf_rake_uniform_sql` unrolls
    them), so they agree bitwise even short of convergence; IPF on a
    connected positive table converges geometrically, asserted at
    fixture scale in tests.  The entire cell table is BOUNDED (the
    observed row×col domain — the strata-relation acceptance class,
    never corpus rows), held as ONE (r,c)-sorted array; each step's
    marginal sums fold in array order (the zipf sorted-fold
    discipline), each weight update is the fixed chain
    ``w · ((tot/k) / marginal)``.  Targets are the uniform shares of
    the OBSERVED marginals; structural zeros (absent cells) simply
    don't exist in the table, the standard incomplete-table raking.

    Output: one row per cell ``(row_col, col_col, n, weight)`` with
    Σ n·w = total preserved by each sweep's row step.
    """
    r = F.col(row_col).cast("string").alias("__r")
    c = F.col(col_col).cast("string").alias("__c")
    cells = df.select(r, c).groupBy("__r", "__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"))
    one = cells.groupBy().agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("__r").alias("r"), F.col("__c").alias("c"),
            F.col("__n").alias("n"),
            F.lit(1.0).alias("w")))).alias("__arr"),
        F.countDistinct("__r").cast("bigint").alias("__nr"),
        F.countDistinct("__c").cast("bigint").alias("__nc"),
        F.sum("__n").cast("bigint").alias("__tot"))

    def marg(arr, x, axis):
        return F.aggregate(
            F.filter(arr, lambda y: y[axis] == x[axis]),
            F.lit(0.0),
            lambda acc, y: acc + y["n"].cast("double") * y["w"])

    def step(colname, axis, k_col):
        arr = F.col(colname)
        target = (F.col("__tot").cast("double")
                  / F.col(k_col).cast("double"))
        return F.transform(
            arr,
            lambda x: F.struct(
                x["r"].alias("r"), x["c"].alias("c"), x["n"].alias("n"),
                (x["w"] * (target / marg(arr, x, axis))).alias("w")))

    cur = one
    name = "__arr"
    for i in range(int(rounds)):
        # one plan barrier per sweep: without it CollapseProject inlines
        # every step's HOF expression into the next (the marg() fold
        # references the array 3x per level -> exponential expression
        # growth); the checkpointed relation is ONE row of bounded arrays
        cur = (cur.withColumn(f"__a{i}r", step(name, "r", "__nr"))
               .withColumn(f"__a{i}c", step(f"__a{i}r", "c", "__nc"))
               .select("__nr", "__nc", "__tot", f"__a{i}c")
               .localCheckpoint(eager=False))
        name = f"__a{i}c"
    return (cur.select(F.explode(F.col(name)).alias("__x"))
            .select(F.col("__x.r").alias(row_col),
                    F.col("__x.c").alias(col_col),
                    F.col("__x.n").alias("n"),
                    F.col("__x.w").alias("weight")))


def ipf_rake_uniform_sql(
    table: str,
    row_expr: str,
    col_expr: str,
    rounds: int = 5,
    row_name: str = "r",
    col_name: str = "c",
) -> str:
    """DuckDB mirror of :func:`ipf_rake_uniform` — the same sweeps
    unrolled as chained CTEs with identical array-order folds."""
    def marg_sql(axis):
        return ("list_reduce(list_prepend(0.0, list_transform("
                f"list_filter(arr, y -> y.{axis} = x.{axis}), "
                "y -> CAST(y.n AS DOUBLE) * y.w)), (p, q) -> p + q)")

    def step_sql(prev, axis, k):
        return (f"SELECT nr, nc, tot, list_transform(arr, x -> "
                f"{{'r': x.r, 'c': x.c, 'n': x.n, "
                f"'w': x.w * ((CAST(tot AS DOUBLE) / CAST({k} AS DOUBLE))"
                f" / {marg_sql(axis)})}}) AS arr FROM {prev}")

    ctes = [f"""cells AS (
        SELECT CAST({row_expr} AS VARCHAR) AS r,
               CAST({col_expr} AS VARCHAR) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1, 2
    )""", """one AS (
        SELECT list_sort(list({'r': r, 'c': c, 'n': n, 'w': 1.0})) AS arr,
               CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT c) AS BIGINT) AS nc,
               CAST(SUM(n) AS BIGINT) AS tot
        FROM cells
    )"""]
    prev = "one"
    for i in range(int(rounds)):
        ctes.append(f"s{i}r AS MATERIALIZED ({step_sql(prev, 'r', 'nr')})")
        ctes.append(f"s{i}c AS MATERIALIZED ({step_sql(f's{i}r', 'c', 'nc')})")
        prev = f"s{i}c"
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT x.r AS {row_name}, x.c AS {col_name}, x.n AS n, x.w AS weight
    FROM (SELECT unnest(arr) AS x FROM {prev})
    """)
