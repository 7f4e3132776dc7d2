"""Portable, ORACLE-EXACT mergeable sketches.

Spark ships DataSketches HLL (``hll_sketch_agg``) and Greenwald-Khanna
quantiles (``percentile_approx``) — both great at scale but their estimates
are implementation-specific, so a differential oracle can only check rows.
This module implements the classic HyperLogLog (Flajolet et al. 2007)
directly on the relational layer with every source of nondeterminism
removed, so DuckDB reproduces the ESTIMATES bit-for-bit:

* item hash = the repo's portable 60-bit md5 hash (``text.hash60``);
* a sketch IS a relation ``(group, register, max_rank)`` — the natural
  distributed representation: building is one groupBy-max (map-side
  combinable), merging sketches is another max — the monoid the reference's
  fold algebra wants (cf. reference Core.hs:211-218 applicative merge);
* the harmonic sum Σ 2^(-M_j) is computed in SCALED INTEGERS
  (Σ 2^(49-M_j), max 4096·2^49 < 2^63): exact, order-independent — no
  float-accumulation-order divergence between engines;
* the only floating math is one literal·1/division (+ one ln in the
  small-range regime), rounded to 9 decimals per the repo numeric policy.

Register count m = 2^p; standard error ≈ 1.04/√m.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators.text import hash60, hash60_sql

#: scaled-integer unit: ranks are ≤ 49 bits for a 60-bit hash with p=12,
#: and Σ 2^(49-rank) over 4096 registers stays under 2^61.
_RANK_BITS = 49


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


#: HLL++-style empirical bias correction for the (2.5m, 5m] band, p=12.
#: The raw estimator is biased HIGH near the linear-counting handoff
#: (+227 at raw≈10.5k, decaying through zero by raw≈15k) — measured with
#: THIS hash (md5-based hash60) over 50 trials × 32 cardinality
#: checkpoints (~1,000 samples; tools-free simulation in the round-5
#: notes).  PIECEWISE-CONSTANT (upper_raw_edge, mean_bias) literals, not
#: interpolation, so the Spark expression and the DuckDB oracle compute
#: bitwise-identical doubles.  Last edge = 5m exactly.
_BIAS_P12: tuple[tuple[float, float], ...] = (
    (10880.0, 227.382), (11520.0, 145.174), (12160.0, 87.932),
    (12800.0, 82.01), (13440.0, 40.758), (14080.0, 19.528),
    (14720.0, -4.744), (15360.0, -2.167), (16000.0, -17.653),
    (16640.0, -31.453), (17280.0, -23.223), (17920.0, -26.96),
    (18560.0, 1.558), (19200.0, 0.014), (19840.0, -17.802),
    (20480.0, -7.306),
)


def hll_register(col: Column | str, p: int = 12) -> tuple[Column, Column]:
    """(register, rank) of one item: register = low ``p`` hash bits, rank =
    1 + leading zeros of the remaining ``60-p`` bits.

    rank = 50-p - length(bin(w)) for w>0 (bin() drops leading zeros in both
    Spark and DuckDB), with the all-zeros convention rank = 61-p.
    """
    h = hash60(col)
    m = 1 << p
    w_bits = 60 - p
    reg = (h % F.lit(m)).alias("reg")
    w = F.shiftrightunsigned(h, p)
    rank = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    ).alias("rank")
    return reg, rank


def hll_register_sql(expr: str, p: int = 12) -> tuple[str, str]:
    """DuckDB SQL mirroring :func:`hll_register` bit-for-bit."""
    h = hash60_sql(expr)
    m = 1 << p
    w_bits = 60 - p
    reg = f"(({h}) % {m})"
    w = f"(({h}) >> {p})"
    rank = (f"(CASE WHEN {w} = 0 THEN {w_bits + 1} "
            f"ELSE {w_bits + 1} - length(bin({w})) END)")
    return reg, rank


def hll_estimate(p: int = 12, rank_col: str = "rank") -> Column:
    """Aggregate expression turning grouped ``(reg, max_rank)`` rows into
    the HLL estimate.  Apply AFTER reducing to one row per (group, reg):
    ``reg_rank.groupBy(*group_cols).agg(hll_estimate(...))``.

    The scaled harmonic sum is integer-exact; the estimate is one double
    division; the small-range (linear-counting) branch uses one ln.  Both
    branches round to 9 decimals (cross-libm ulp policy).

    Regimes (p=12): linear counting while raw ≤ 2.5m and zero registers
    remain; then the HLL++-style empirical bias correction through raw ≤ 5m
    (``_BIAS_P12`` piecewise-constant literals — subtraction of a literal,
    so the SQL mirror stays bitwise identical); raw beyond.  Other p: no
    bias table measured — classic two-regime estimator."""
    m = 1 << p
    # Σ_present 2^(49-rank)  (+ absent registers at rank 0 → 2^49 each);
    # expr() because F.shiftleft only takes a literal bit count
    s_present = F.sum(F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {_RANK_BITS} - {rank_col})"))
    n_present = F.count(F.lit(1))
    v_zero = (F.lit(m) - n_present).cast("bigint")
    s_total = s_present + v_zero * F.lit(1 << _RANK_BITS).cast("bigint")
    raw = F.lit(_alpha(m) * m * m * float(1 << _RANK_BITS)) / s_total.cast("double")
    small = F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")), 9)
    est = F.when((raw <= 2.5 * m) & (v_zero > 0), small)
    if p == 12:
        bias = None
        for edge, b in reversed(_BIAS_P12):
            bias = (F.lit(b) if bias is None
                    else F.when(raw <= F.lit(edge), F.lit(b)).otherwise(bias))
        est = est.when(raw <= F.lit(5.0 * m), F.round(raw - bias, 9))
    return est.otherwise(F.round(raw, 9))


def hll_estimate_sql(p: int = 12, rank_col: str = "rank") -> str:
    """DuckDB aggregate-SQL mirror of :func:`hll_estimate` — including the
    p=12 bias-correction band (same literals, same operation order →
    bitwise-identical doubles)."""
    m = 1 << p
    s_total = (
        f"(SUM(CAST(1 AS BIGINT) << ({_RANK_BITS} - {rank_col}))"
        f" + CAST({m} - COUNT(*) AS BIGINT) * {1 << _RANK_BITS})"
    )
    v_zero = f"CAST({m} - COUNT(*) AS BIGINT)"
    raw = f"({_alpha(m) * m * m * float(1 << _RANK_BITS)!r} / CAST({s_total} AS DOUBLE))"
    small = f"round({float(m)!r} * ln({float(m)!r} / CAST({v_zero} AS DOUBLE)), 9)"
    if p == 12:
        bias = f"{_BIAS_P12[-1][1]!r}"
        for edge, b in reversed(_BIAS_P12[:-1]):
            bias = f"CASE WHEN {raw} <= {edge!r} THEN {b!r} ELSE {bias} END"
        corrected = f"round({raw} - ({bias}), 9)"
        return (f"(CASE WHEN {raw} <= {2.5 * m!r} AND {v_zero} > 0 "
                f"THEN {small} "
                f"WHEN {raw} <= {5.0 * m!r} THEN {corrected} "
                f"ELSE round({raw}, 9) END)")
    return (f"(CASE WHEN {raw} <= {2.5 * m!r} AND {v_zero} > 0 "
            f"THEN {small} ELSE round({raw}, 9) END)")


def hll_sketch(df: DataFrame, item: str | Column, group_cols: list[str],
               p: int = 12) -> DataFrame:
    """Build the relational HLL sketch: one row per (group, register) with
    the max rank.  groupBy-max → map-side combinable, shuffle bounded by
    #groups × m regardless of input size.  Sketches for different slices
    UNION + re-max to merge (see queries/llm.py sketch_union_hll)."""
    reg, rank = hll_register(item, p)
    return (df.select(*group_cols, reg, rank)
              .groupBy(*group_cols, "reg")
              .agg(F.max("rank").alias("rank")))


# ---------------------------------------------------------------------------
# Deterministic quantile sketch: fixed equi-width histogram
# ---------------------------------------------------------------------------
#
# Spark's percentile_approx (Greenwald-Khanna) is implementation-specific,
# so its estimates can only be rows-checked.  A fixed-range equi-width
# histogram is the deterministic mergeable alternative: the sketch is a
# (group, bucket, count) relation (merge = SUM), size B per group at any
# input size, and the quantile estimate — the midpoint of the first bucket
# whose cumulative count reaches ceil(q·n) — is pure integer+literal
# arithmetic both engines compute identically.  Value error ≤ one bucket
# width; rank error bounded by the heaviest bucket's mass.


def hist_bucket(col: Column | str, lo: float, hi: float, nbuckets: int) -> Column:
    """Clamped equi-width bucket index (0..nbuckets-1)."""
    c = F.col(col) if isinstance(col, str) else col
    w = (hi - lo) / nbuckets
    b = F.floor((c.cast("double") - F.lit(lo)) / F.lit(w)).cast("bigint")
    return F.greatest(F.lit(0).cast("bigint"),
                      F.least(F.lit(nbuckets - 1).cast("bigint"), b))


def hist_bucket_sql(expr: str, lo: float, hi: float, nbuckets: int) -> str:
    w = (hi - lo) / nbuckets
    b = f"CAST(floor((CAST({expr} AS DOUBLE) - {lo!r}) / {w!r}) AS BIGINT)"
    return (f"greatest(CAST(0 AS BIGINT), "
            f"least(CAST({nbuckets - 1} AS BIGINT), {b}))")


def hist_quantile(frac: float, lo: float, hi: float, nbuckets: int,
                  bucket_col: str = "bucket", cnt_col: str = "cnt") -> Column:
    """Aggregate expr over (bucket, cnt) rows: midpoint of the first bucket
    where the cumulative count reaches ceil(frac·n).

    Implemented without a window: min(bucket) over buckets whose SUFFIX sum
    ≥ n − target + cnt … equivalently via a sorted struct-array fold so the
    whole thing stays one aggregate (and one SQL expression).  B is small
    (≤ 64) by construction, so the array stays tiny."""
    pairs = F.array_sort(F.collect_list(
        F.struct(F.col(bucket_col).alias("b"), F.col(cnt_col).alias("c"))))
    n = F.sum(F.col(cnt_col))
    target = F.ceil(F.lit(frac) * n.cast("double"))
    # running scan over ≤ B sorted buckets: state = (remaining, answer)
    picked = F.aggregate(
        pairs,
        F.struct(target.alias("rem"), F.lit(-1).cast("bigint").alias("ans")),
        lambda acc, s: F.struct(
            (acc["rem"] - s["c"]).alias("rem"),
            F.when((acc["ans"] < 0) & (acc["rem"] <= s["c"]), s["b"])
             .otherwise(acc["ans"]).alias("ans"),
        ),
    )["ans"]
    w = (hi - lo) / nbuckets
    return F.lit(lo) + (picked.cast("double") + F.lit(0.5)) * F.lit(w)


def hist_quantile_sql(frac: float, lo: float, hi: float, nbuckets: int,
                      bucket_col: str = "bucket", cnt_col: str = "cnt") -> str:
    """DuckDB mirror of :func:`hist_quantile` (list_reduce over the sorted
    (bucket, cnt) pairs, same fold, same literals)."""
    w = (hi - lo) / nbuckets
    pairs = (f"list_sort(list({{'b': {bucket_col}, 'c': {cnt_col}}}))")
    target = f"CAST(ceil({frac!r} * CAST(SUM({cnt_col}) AS DOUBLE)) AS BIGINT)"
    fold = (
        f"list_reduce(list_prepend({{'b': CAST(-1 AS BIGINT), 'c': {target}}},"
        f" {pairs}), "
        "(acc, s) -> {'b': CASE WHEN acc.b < 0 AND acc.c <= s.c "
        "THEN s.b ELSE acc.b END, 'c': acc.c - s.c})"
    )
    return f"({lo!r} + (CAST(({fold}).b AS DOUBLE) + 0.5) * {w!r})"


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — frequency estimation /
# heavy hitters, same oracle-exact relational discipline as the HLL above.
# ---------------------------------------------------------------------------

def _cms_rc(item: Column, d: int, w: int) -> Column:
    """array<struct<r,c>> of the item's ``d`` (row, column) cells; row
    ``r``'s hash is the portable hash60 salted with ``cms{r}`` — fully
    deterministic, so DuckDB lands every item in the same cells."""
    return F.array(*[
        F.struct(F.lit(r).alias("r"),
                 (hash60(item, salt=f"cms{r}") % F.lit(w)).alias("c"))
        for r in range(d)
    ])


def cms_cells(
    df: DataFrame,
    item: str | Column,
    group_cols: list[str] | None = None,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Build a count-min sketch as a RELATION ``(group…, r, c, cnt)`` —
    the distributed-native form, exactly like :func:`hll_sketch`'s
    register relation: building is explode-``d``-cells → one
    map-side-combinable count aggregation; MERGING two sketches is
    ``union → groupBy(r, c) → sum`` (the counter monoid — cells are
    additive, so sketch(A ∪ B) = sketch(A) ⊕ sketch(B) cell-wise,
    property-tested).  Sparse: untouched cells are absent (= 0).

    Point estimates OVERCOUNT only (each cell adds colliding items'
    counts; the min over ``d`` rows takes the least-collided) — est ≥
    true always, and P[est > true + εN] ≤ (1/2)^d at w = e/ε.  At 100 TB
    the sketch is ≤ d·w rows per group regardless of key cardinality —
    the point: heavy-hitter detection without a full groupBy over a
    billion-key column (the hot-key PRE-detection step feeding
    skew.salted_aggregate / topk_per_group(pre_split=))."""
    it = F.col(item) if isinstance(item, str) else item
    gc = list(group_cols or [])
    e = df.select(*gc, F.explode(_cms_rc(it, d, w)).alias("rc")) \
        .select(*gc, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    return e.groupBy(*gc, "r", "c").agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(a: DataFrame, b: DataFrame,
              group_cols: list[str] | None = None) -> DataFrame:
    """⊕ of two cell relations (same d, w): cell-wise count sum."""
    gc = list(group_cols or [])
    return a.unionByName(b).groupBy(*gc, "r", "c") \
        .agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """``(key, est)`` point estimates for every row of ``keys``: min over
    the key's ``d`` cells (absent cell = 0).  One broadcastable-sized
    join against the sketch — the sketch, not the data, is the operand."""
    ke = keys.select(
        F.col(key_col), F.explode(_cms_rc(F.col(key_col), d, w)).alias("rc"),
    ).select(key_col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    j = ke.join(cells, ["r", "c"], "left")
    return j.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))


def cms_cells_sql(item_expr: str, src: str, d: int = 4, w: int = 1024) -> str:
    """DuckDB mirror of :func:`cms_cells` (no groups): ``d`` UNION ALL
    branches, same salted hash60, same modulus."""
    branches = "\n        UNION ALL\n".join(
        f"        SELECT {r} AS r, "
        f"{hash60_sql(item_expr, salt=f'cms{r}')} % {w} AS c FROM {src}"
        for r in range(d)
    )
    return f"SELECT r, c, count(*) AS cnt FROM (\n{branches}\n    ) GROUP BY r, c"


def cms_key_cells_sql(key_expr: str, src: str, d: int = 4, w: int = 1024) -> str:
    """DuckDB mirror of the key-side cell expansion in :func:`cms_estimate`."""
    return "\n        UNION ALL\n".join(
        f"        SELECT {key_expr} AS key, {r} AS r, "
        f"{hash60_sql(key_expr, salt=f'cms{r}')} % {w} AS c FROM {src}"
        for r in range(d)
    )


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970) — semi-join reduction for big joins.
# ---------------------------------------------------------------------------
#
# The 100 TB join pattern this enables: a selective dimension (e.g. "the
# 0.1% of orders over the price threshold") reduced to a kilobytes-sized
# bitmask that filters the FACT side at scan time, BEFORE the shuffle —
# the fact rows that cannot possibly join never leave their input
# partition.  Spark's AQE can inject runtime bloom filters itself
# (spark.sql.optimizer.runtime.bloomFilter.enabled), but only under a
# shuffle-join with fresh stats; the explicit operator makes the
# reduction deterministic, composable mid-pipeline, and storable.
#
# Same relational-sketch discipline as the HLL registers and CMS cells
# above: the filter is a ``(word, bits)`` relation — building is one
# explode + one map-side-combinable BIT_OR aggregation, merging two
# filters (same geometry) is BIT_OR again, and membership is a pure
# Catalyst expression over the packed literal mask.  False positives only
# (removed by the exact join that follows); false negatives impossible —
# property-tested, and any pruning bug surfaces as a result mismatch
# against the plain-join oracle.


def _bloom_positions(
    item: Column, n_bits: int, k: int, portable: bool = False
) -> list[Column]:
    """The item's k bit positions by Kirsch–Mitzenmacher double hashing
    (pos_i = (h1 + i·h2) mod m) from ONE base hash — same asymptotic
    false-positive rate as k independent hashes.  h2 is forced odd so it
    is coprime with the power-of-two m and the k probes are distinct.

    The base hash defaults to Spark-native ``xxhash64`` — pruning
    correctness NEVER depends on the hash (any deterministic function
    gives zero false negatives, and false positives die in the exact
    join), so the scan predicate gets the cheap JVM hash; the md5-based
    ``hash60`` (``portable=True``) is the opt-in for workflows that need
    the MASK itself reproducible outside Spark, at k× the probe cost
    (Catalyst re-evaluates the hash subexpression per probe)."""
    if portable:
        h = hash60(item, salt="bf")
    else:
        h = F.xxhash64(item, F.lit("bf"))
    h1 = F.pmod(h, F.lit(1 << 30))
    h2 = F.pmod(F.shiftright(h, 30), F.lit(1 << 30)) \
        .bitwiseOR(F.lit(1).cast("bigint"))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(k)]


def bloom_bits(
    df: DataFrame,
    item: str | Column,
    n_bits: int = 1 << 16,
    k: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Build a bloom filter as a ``(word, bits)`` relation: word = bit
    position // 64, bits = OR of the member bits in that word.  One
    narrow aggregation (≤ n_bits/64 output rows); two filters of the
    same (n_bits, k) geometry merge by BIT_OR per word."""
    if n_bits & (n_bits - 1) or n_bits < 64:
        raise ValueError(f"n_bits must be a power of two >= 64, got {n_bits}")
    c = F.col(item) if isinstance(item, str) else item
    pos = F.explode(
        F.array(*_bloom_positions(c, n_bits, k, portable))).alias("pos")
    return (
        df.select(pos)
        .select(
            F.shiftright("pos", 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
             .alias("b"),
        )
        .groupBy("word").agg(F.bit_or("b").alias("bits"))
    )


def bloom_mask(bits_df: DataFrame, n_bits: int) -> list[int]:
    """Densify the ``(word, bits)`` relation into a Python word list of
    length n_bits/64 — a BOUNDED driver collect (n_bits = 2^20 → 16k
    longs ≈ 128 KiB), the same bounded-metadata class as
    ``blocked_matmul_topk``'s query block."""
    words = [0] * (n_bits >> 6)
    for r in bits_df.collect():
        words[int(r["word"])] = int(r["bits"])
    return words


def bloom_might_contain(
    item: str | Column, mask: list[int], n_bits: int, k: int = 4,
    portable: bool = False,
) -> Column:
    """Membership predicate over the packed mask as a literal array —
    pure Catalyst (getbit on the selected word, ANDed over the k probes),
    so it pushes to the fact scan and codegens."""
    c = F.col(item) if isinstance(item, str) else item
    # ONE ArrayType literal (constant in the plan, no per-row array
    # construction and no per-element py4j calls — measured 4.6 s → 0.9 s
    # for the sf0.1 prune with the element-wise F.array form)
    arr = F.lit([int(w) for w in mask])
    cond = None
    for pos in _bloom_positions(c, n_bits, k, portable):
        word = F.element_at(arr, (F.shiftright(pos, 6) + 1).cast("int"))
        term = F.getbit(word, (pos % 64).cast("int")) == 1
        cond = term if cond is None else cond & term
    return cond


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 16,
    k: int = 4,
    how: str = "inner",
    portable: bool = False,
) -> DataFrame:
    """Exact ``fact ⋈ dim`` with the fact side bloom-pruned first: build
    the filter from the dim keys (one tiny job), broadcast it as a
    literal mask, filter the fact scan, then run the real join.  The
    result is IDENTICAL to the plain join (``how`` ∈ inner/left_semi —
    the joins for which dropping never-matching fact rows is sound);
    the bloom only shrinks the shuffle.  Eager mask build at call time —
    inherent to a runtime filter."""
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(f"bloom pruning is sound for inner/semi joins, got {how!r}")
    mask = bloom_mask(bloom_bits(dim, dim_key, n_bits, k, portable), n_bits)
    pruned = fact.where(
        bloom_might_contain(fact_key, mask, n_bits, k, portable))
    return pruned.join(dim, pruned[fact_key] == dim[dim_key],
                       "left_semi" if how == "semi" else how)


# ---------------------------------------------------------------------------
# KMV / theta sketch (k minimum values; Bar-Yossef et al. 2002) —
# distinct counting WITH set-operation estimates (intersection/Jaccard),
# which the HLL registers above cannot express.
# ---------------------------------------------------------------------------
#
# Same oracle-exact discipline: the sketch is the k SMALLEST distinct
# portable-hash values of the item set — a pure function of the set, so
# Spark and the SQL mirror hold bit-identical sketches, and every
# estimate below is exact arithmetic over them.
#
#   distinct:      D̂ = (k-1) · 2^60 / h_(k)      (exact count when |set| < k)
#   union:         k smallest of the concatenated sketches (re-min)
#   intersection:  ρ = |union-sketch values present in BOTH sides| / k,
#                  Î = round(ρ · D̂_union)  — the standard theta estimator
#                  (:func:`kmv_pairwise_jaccard`, per group pair).
#
# Relation form: (group…, h) rows, ≤ k per group; merge = union + re-min,
# the same monoid shape as the HLL/CMS/bloom relations.


def kmv_sketch(
    df: DataFrame,
    item: str | Column,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """Build the KMV sketch relation: the ``k`` smallest distinct hash60
    values per group, as ``(group…, h)`` rows.

    One distinct (map-side combinable) + one per-group top-k — the
    window partitions by group over ≤ |distinct| rows; a group's sketch
    never exceeds ``k`` rows regardless of input size."""
    from map_reduce_folds_spark.operators.relational import topk_per_group

    c = F.col(item) if isinstance(item, str) else item
    g = list(group_cols or [])
    hashes = df.select(*g, hash60(c).alias("h")).distinct()
    if g:
        return topk_per_group(hashes, g, [F.col("h")], k)
    # global form: distinct hashes are already unique, take k smallest via
    # orderBy+limit (TakeOrderedAndProject — no full sort)
    return hashes.orderBy("h").limit(k)


#: hash60 value space (the D̂ normalizer)
_H60_M = float(1 << 60)


def kmv_distinct_estimate(k: int = 256) -> Column:
    """Aggregate expression over a (possibly short) sketch's ``h`` rows:
    (k-1)·2^60 / h_(k) when the sketch is full, else the EXACT row count
    (a short sketch holds every distinct hash).  Rounded to 9 decimals
    (one double division; the repo ulp policy)."""
    n = F.count(F.lit(1))
    kth = F.max("h")  # the sketch holds the k smallest, so max = h_(k)
    est = F.round(F.lit((k - 1) * _H60_M) / kth.cast("double"), 9)
    return F.when(n < k, n.cast("double")).otherwise(est)


def kmv_distinct_estimate_sql(k: int = 256) -> str:
    """DuckDB mirror of :func:`kmv_distinct_estimate`."""
    return (f"(CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE) "
            f"ELSE round({(k - 1) * _H60_M!r} / CAST(MAX(h) AS DOUBLE), 9) "
            "END)")


def kmv_pairwise_jaccard(
    sketches: DataFrame,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """RELATIONAL pairwise intersection estimates from grouped KMV
    sketches: for every unordered group pair (a < b), the union sketch's
    both-members fraction (the theta Jaccard estimator) and the scaled
    intersection estimate — one plan, no driver arithmetic.

    Input: a ``(group, h)`` sketch relation (:func:`kmv_sketch` with
    ``group_cols=[group_col]``).  Shape: pair union sketches are ≤ k rows
    per pair and pairs are |groups|²/2 — sized for slice-level
    comparisons (sources, snapshots, languages), not per-document ones
    (use MinHash banding for those).  Output: ``(group_a, group_b,
    jaccard, est_union, est_intersection)``, all exact arithmetic over
    the deterministic sketches."""
    from map_reduce_folds_spark.operators.relational import topk_per_group

    a = sketches.select(F.col(group_col).alias("ga"), F.col("h"))
    b = sketches.select(F.col(group_col).alias("gb"), F.col("h"))
    # candidate pair universe = ordered group pairs; carry each side's
    # sketch rows under the pair key, dedup shared hashes, re-min to k
    ga = sketches.select(F.col(group_col).alias("ga")).distinct()
    gb = sketches.select(F.col(group_col).alias("gb")).distinct()
    pairs = ga.join(gb, F.col("ga") < F.col("gb"))
    pooled = (
        pairs.join(a, "ga")
        .unionByName(pairs.join(b, "gb").select("ga", "gb", "h"))
        .select("ga", "gb", "h").distinct()
    )
    union_sk = topk_per_group(pooled, ["ga", "gb"], [F.col("h")], k)
    # membership flags via marker joins (left join on the composite key;
    # a left-semi can't carry per-pair flags for BOTH sides at once)
    ma = a.select("ga", F.col("h").alias("h"), F.lit(1).alias("__in_a")) \
        .dropDuplicates(["ga", "h"])
    mb = b.select("gb", F.col("h").alias("h"), F.lit(1).alias("__in_b")) \
        .dropDuplicates(["gb", "h"])
    u = union_sk.join(ma, ["ga", "h"], "left").join(mb, ["gb", "h"], "left")
    est_u = kmv_distinct_estimate(k)
    both = F.sum((F.coalesce("__in_a", F.lit(0))
                  * F.coalesce("__in_b", F.lit(0))).cast("bigint"))
    n_u = F.count(F.lit(1))
    jac = F.round(both.cast("double") / n_u.cast("double"), 9)
    return u.groupBy("ga", "gb").agg(
        jac.alias("jaccard"),
        est_u.alias("est_union"),
        F.round((both.cast("double") / n_u.cast("double")) * est_u, 9)
            .alias("est_intersection"),
    ).withColumnsRenamed({"ga": "group_a", "gb": "group_b"})


def hll_sliding_estimate(
    df: DataFrame,
    ts_col: str,
    item: str | Column,
    bucket_us: int,
    k: int,
    p: int = 12,
) -> DataFrame:
    """Distinct-count estimate per SLIDING window of ``k`` tumbling
    buckets — the sketch-reuse pattern that makes sliding distinct
    counts affordable at scale: each event is hashed into its bucket's
    HLL sketch ONCE (:func:`hll_sketch` — shuffle bounded by
    #buckets × m), and every window estimate is a merge of its k bucket
    sketches (register-wise max), never a rescan of the events.  A naive
    sliding COUNT(DISTINCT) re-reads every event k times and keeps
    per-window item sets; this keeps k × m register rows per window.

    Windows advance one bucket per step (stride = bucket width); ragged
    edge windows (fewer than k populated buckets) are emitted —
    merging fewer sketches is still the exact same estimator.

    Output: ``(win_start_us bigint, nd_est double)`` — one row per
    window with ≥ 1 event, ``win_start_us = window-start microseconds``.
    Deterministic: the portable hash60-based registers and the
    9-decimal estimate discipline of :func:`hll_estimate`."""
    from map_reduce_folds_spark.timeutil import epoch_us

    eus = epoch_us(F.col(ts_col))
    bucket = ((eus - eus % F.lit(bucket_us)) / F.lit(bucket_us)) \
        .cast("bigint")
    sk = hll_sketch(df.withColumn("__bkt", bucket), item, ["__bkt"], p=p)
    # bucket b serves windows starting at b-k+1 .. b
    per_win = sk.select(
        F.explode(F.sequence(F.col("__bkt") - (k - 1),
                             F.col("__bkt"))).alias("__win"),
        "reg", "rank")
    merged = per_win.groupBy("__win", "reg").agg(F.max("rank").alias("rank"))
    return (
        merged.groupBy("__win")
        .agg(hll_estimate(p).alias("nd_est"))
        .select((F.col("__win") * F.lit(bucket_us)).cast("bigint")
                .alias("win_start_us"), "nd_est")
    )


def hll_sliding_estimate_sql(
    src: str,
    ts_expr: str,
    item_expr: str,
    bucket_us: int,
    k: int,
    p: int = 12,
) -> str:
    """DuckDB mirror of :func:`hll_sliding_estimate` (same registers,
    same bucket arithmetic, same window fan-out)."""
    reg, rank = hll_register_sql(item_expr, p=p)
    return f"""
    WITH rr AS (
        SELECT (epoch_us({ts_expr}) - epoch_us({ts_expr}) % {bucket_us})
               // {bucket_us} AS bkt,
               {reg} AS reg, {rank} AS rank
        FROM {src}
    ),
    sk AS (SELECT bkt, reg, MAX(rank) AS rank FROM rr GROUP BY 1, 2),
    pw AS (
        SELECT u.win, reg, rank
        FROM sk, LATERAL (SELECT unnest(generate_series(
                              bkt - {k - 1}, bkt)) AS win) u
    ),
    merged AS (SELECT win, reg, MAX(rank) AS rank FROM pw GROUP BY 1, 2)
    SELECT CAST(win * {bucket_us} AS BIGINT) AS win_start_us,
           {hll_estimate_sql(p=p)} AS nd_est
    FROM merged GROUP BY win
    """
