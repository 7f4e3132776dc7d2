"""Exact evaluation statistics: ROC-AUC, Spearman, kappa, richness, z-test.

The model-evaluation / corpus-diagnostics layer of a training-data
pipeline: given scores produced by the engine's own gates (quality
scores, classifier outputs, importance weights), measure *how good the
score is* — discrimination (tie-corrected ROC-AUC = Mann-Whitney U),
monotone association (tie-corrected Spearman's rho), inter-rater
agreement (Cohen's kappa), vocabulary richness / unseen-mass estimation
(Chao1, Good-Turing), and proportion-difference significance (pooled
two-proportion z-test).

Numeric discipline (the repo-wide contract): every statistic is computed
from EXACT integer sums — counts, rank numerators held in halves or
doubled form to stay integral under ties — with ONE final double
expression, so Spark and the DuckDB oracle agree bitwise with no
accumulation-order discipline.

Scale discipline: rank statistics never compile to a global-ORDER-BY
window (the single-task shape the ``scale_audit`` fat-sort rule flags).
Both AUC and Spearman aggregate to the DISTINCT-value relation first,
then use the monotone-integer-bucket decomposition of :func:`cum_below`:
a row's exclusive cumulative = (sum over strictly lower buckets, a
window over the per-group ≤ ``nbuckets`` bucket-summary rows) + (a
window partitioned by (group, bucket) over ~n/nbuckets rows).  Every
window is partitioned; every join after the distinct-value aggregation
is against a bucket-summary relation.

Reference anchor: the reference engine (map-reduce-folds, Core.hs:96-189)
has no statistics layer at all; this module extends the fold vocabulary
(SURVEY §2.6) with the evaluation folds a 100 TB curation pipeline needs
(SURVEY §2.7 north-star block).  Formulas are textbook/public: Mann &
Whitney 1947, Spearman 1904 (tie-corrected via average ranks), Cohen
1960, Chao 1984 (bias-corrected form), Good 1953.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "cum_below",
    "roc_auc",
    "roc_auc_sql",
    "avg_rank2",
    "spearman_rho",
    "spearman_rho_sql",
    "cohens_kappa",
    "chao1_richness",
    "chao1_richness_sql",
    "two_proportion_ztest",
    "two_proportion_ztest_sql",
    "calibration_report",
    "calibration_report_sql",
    "mannwhitney_z",
    "mannwhitney_z_sql",
    "js_divergence_by_group",
    "js_divergence_by_group_sql",
    "chi2_independence",
    "chi2_independence_sql",
    "mutual_information",
    "mutual_information_sql",
]


def _with_group(df: DataFrame, keys: Sequence[str]) -> tuple[DataFrame, list[str]]:
    """Empty ``keys`` means one global group: add a constant key so the
    grouped machinery (min/max stats join, partitioned windows) keeps a
    partition column instead of falling into the global-window shape."""
    if keys:
        return df, list(keys)
    return df.withColumn("__g", F.lit(1)), ["__g"]


def cum_below(
    d: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_cols: Sequence[str],
    nbuckets: int = 8192,
) -> DataFrame:
    """EXCLUSIVE per-group running sums of ``value_cols`` over the total
    order of ``order_col`` — for DISTINCT-value relations (``order_col``
    unique within each group, integer-valued) — without a per-group
    global sort.

    Bucket decomposition: integer bucketing is monotone (all of a
    value's rows land in one bucket, lower buckets hold strictly smaller
    values), so cumulative-below = (strictly lower buckets' totals: a
    window over the per-group bucket summary, ≤ ``nbuckets`` rows per
    group) + (within-bucket exclusive window, partitioned by
    (group, bucket)).  Adds ``below_<c>`` for each value column; all
    arithmetic bigint-exact.  ``keys`` must be non-empty — ungrouped
    callers pass the constant key from :func:`_with_group` (the grouped
    stats join and both windows need a partition column).
    """
    keys = list(keys)
    assert keys, "cum_below needs >=1 group key; use _with_group for global"
    stats = d.groupBy(*keys).agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi"))
    j = (
        d.join(F.broadcast(stats), list(keys))
        .withColumn(
            "__b",
            F.expr(f"({order_col} - __lo) div "
                   f"((__hi - __lo) div {int(nbuckets)} + 1)"),
        )
        .drop("__lo", "__hi")
    )
    sums = [F.sum(c).cast("bigint").alias(f"__t_{c}") for c in value_cols]
    totals = j.groupBy(*keys, "__b").agg(*sums)
    wcum = (
        Window.partitionBy(*keys).orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucket_below = totals.select(
        *keys, "__b",
        *[(F.sum(f"__t_{c}").over(wcum) - F.col(f"__t_{c}"))
          .alias(f"__bb_{c}") for c in value_cols],
    )
    wloc = (
        Window.partitionBy(*keys, "__b").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = j.join(F.broadcast(bucket_below), [*keys, "__b"])
    for c in value_cols:
        out = out.withColumn(
            f"below_{c}",
            (F.col(f"__bb_{c}")
             + F.coalesce(F.sum(c).over(wloc), F.lit(0)).cast("bigint")),
        )
    return out.drop("__b", *[f"__bb_{c}" for c in value_cols])


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: Sequence[str] = (),
    nbuckets: int = 8192,
) -> DataFrame:
    """Exact tie-corrected ROC-AUC of an integer-valued score against a
    0/1 label, per group — the Mann-Whitney U statistic normalised by
    P·N, computed WITHOUT a global sort.

    AUC = [Σ_s pos(s)·(2·cumneg_below(s) + neg(s))] / (2·P·N) over the
    distinct scores s: a concordant (neg below pos) pair counts 1, a
    tied-score pair counts ½ — the doubled numerator keeps ties integral.
    Groups with P=0 or N=0 emit NULL (AUC undefined).

    Shape: one shuffle to the distinct-(group, score) relation, then
    :func:`cum_below` (partitioned windows only), then one grouped agg.
    Output: ``keys…, auc (double), n_pos, n_neg (bigint)``.

    int64 headroom: the numerator is ≤ 2·P·N ≤ n²/2 — exact through
    ~4.3e9 rows per group; stage ``__num2`` through DECIMAL(38,0)
    beyond that.
    """
    df, gkeys = _with_group(df, keys)
    lab = F.col(label_col).cast("bigint")
    d = (
        df.select(*gkeys, F.col(score_col).cast("bigint").alias("__s"), lab.alias("__y"))
        .groupBy(*gkeys, "__s")
        .agg(F.sum("__y").alias("__pos"),
             F.sum(F.lit(1) - F.col("__y")).alias("__neg"))
    )
    c = cum_below(d, gkeys, "__s", ["__neg"], nbuckets=nbuckets)
    # the summand pos·(2·below+neg) <= 2·t·N stays per-row bigint-safe;
    # the SUM (= 2·P·N <= n²/2) is decimal-staged so huge groups stay
    # exact (one rounding at the final cast — DuckDB's HUGEINT twin)
    agg = c.groupBy(*gkeys).agg(
        F.sum((F.col("__pos") * (F.lit(2) * F.col("below___neg")
                                 + F.col("__neg"))).cast("decimal(38,0)"))
        .alias("__num2"),
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum("__neg").cast("bigint").alias("n_neg"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("__num2").cast("double")
        / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
    )
    out = agg.select(*(list(keys) or []), auc.alias("auc"), "n_pos", "n_neg")
    return out


def roc_auc_sql(
    table: str,
    score_expr: str,
    label_expr: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`roc_auc` — same doubled-numerator integer
    identity, same single double division (the oracle may use the plain
    global-order window; it is single-node by design)."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    part = f"PARTITION BY {kcols} " if keys else ""
    return f"""
    WITH pts AS (
      SELECT {kpref}CAST({score_expr} AS BIGINT) AS s,
             CAST({label_expr} AS BIGINT) AS y
      FROM {table}
    ),
    d AS (
      SELECT {kpref}s, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM pts GROUP BY {kpref}s
    ),
    c AS (
      SELECT {kpref}s, pos, neg,
             COALESCE(SUM(neg) OVER ({part}ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM d
    ),
    a AS (
      SELECT {kpref}
             CAST(SUM(pos * (2 * below + neg)) AS BIGINT) AS num2,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg
      FROM c {f"GROUP BY {kcols}" if keys else "GROUP BY ()"}
    )
    SELECT {kpref}
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(num2 AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
           END AS auc,
           n_pos, n_neg
    FROM a
    """


def avg_rank2(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    out_col: str = "r2",
    nbuckets: int = 8192,
) -> DataFrame:
    """Tie-averaged ranks, DOUBLED to stay integral: for each row,
    ``r2 = 2·(count strictly below) + (ties + 1)`` — twice the textbook
    average rank (below + (ties+1)/2).  Integer-valued column required.

    Shape: distinct-value aggregation + :func:`cum_below` + one join of
    the rows back to their (group, value) rank — shuffles on the value,
    never a sort of the full relation.
    """
    df, gkeys = _with_group(df, keys)
    d = (
        df.select(*gkeys, F.col(value_col).cast("bigint").alias("__v"))
        .groupBy(*gkeys, "__v")
        .agg(F.count(F.lit(1)).alias("__ties"))
    )
    c = cum_below(d, gkeys, "__v", ["__ties"], nbuckets=nbuckets)
    ranks = c.select(
        *gkeys, "__v",
        (F.lit(2) * F.col("below___ties") + F.col("__ties") + F.lit(1))
        .cast("bigint").alias(out_col),
    )
    joined = df.withColumn("__v", F.col(value_col).cast("bigint")).join(
        ranks, [*gkeys, "__v"]
    ).drop("__v")
    return joined if keys else joined.drop("__g")


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: Sequence[str] = (),
    nbuckets: int = 8192,
) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation per group: Pearson's
    formula over tie-averaged ranks (held doubled, so all sums are
    integer-exact), one deterministic double expression at the end — the
    rank-statistic companion of ``corr_exact`` (queries/relational.py).

    rho = (n·Σab − Σa·Σb) / (√(n·Σa² − (Σa)²)·√(n·Σb² − (Σb)²)) with
    a = 2·avg-rank(x), b = 2·avg-rank(y); the doubling cancels.

    int64 headroom: Σa² ≤ 4n³ overflows a bigint SUM past ~1.3e6 rows
    per group (caught by the 10× scale run, not review), so every
    moment sum is STAGED THROUGH DECIMAL(38,0) — exact integer
    arithmetic to ~10³⁸, ONE rounding at the final cast to double,
    bitwise-equal to DuckDB's native HUGEINT sum→double path.  The
    per-row product a·b ≤ 4n² stays in bigint (safe to ~1.5e9 rows
    per group).

    Output: ``keys…, rho (double), n (bigint)``.
    """
    rx = avg_rank2(df, x_col, keys, out_col="__a", nbuckets=nbuckets)
    rxy = avg_rank2(rx, y_col, keys, out_col="__bv", nbuckets=nbuckets)
    gkeys = list(keys) if keys else []
    grouped = rxy.groupBy(*gkeys) if gkeys else rxy.groupBy()
    dec = "decimal(38,0)"
    n = F.count(F.lit(1))
    sa = F.sum(F.col("__a").cast(dec)).cast("double")
    sb = F.sum(F.col("__bv").cast(dec)).cast("double")
    sab = F.sum((F.col("__a") * F.col("__bv")).cast(dec)).cast("double")
    saa = F.sum((F.col("__a") * F.col("__a")).cast(dec)).cast("double")
    sbb = F.sum((F.col("__bv") * F.col("__bv")).cast(dec)).cast("double")
    rho = (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
    )
    return grouped.agg(rho.alias("rho"), n.cast("bigint").alias("n"))


def spearman_rho_sql(
    table: str,
    x_expr: str,
    y_expr: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`spearman_rho`: doubled average ranks via
    the rank identity ``2·(RANK()−1) + ties + 1`` (RANK()−1 = count
    strictly below; COUNT(*) partitioned by the value = ties — integer
    throughout), then the exact ``corr_exact`` expression shape —
    term-for-term identical operation order so the one double expression
    matches bitwise."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    part = f"PARTITION BY {kcols} " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    return f"""
    WITH pts AS (
      SELECT {kpref}CAST({x_expr} AS BIGINT) AS x, CAST({y_expr} AS BIGINT) AS y
      FROM {table}
    ),
    r AS (
      SELECT {kpref}
             CAST(2 * (RANK() OVER ({part}ORDER BY x) - 1)
                  + COUNT(*) OVER (PARTITION BY {kpref}x) + 1 AS BIGINT) AS a,
             CAST(2 * (RANK() OVER ({part}ORDER BY y) - 1)
                  + COUNT(*) OVER (PARTITION BY {kpref}y) + 1 AS BIGINT) AS b
      FROM pts
    )
    SELECT {kpref}
           (COUNT(*) * CAST(SUM(a * b) AS DOUBLE)
            - CAST(SUM(a) AS DOUBLE) * CAST(SUM(b) AS DOUBLE))
           / (sqrt(COUNT(*) * CAST(SUM(a * a) AS DOUBLE)
                   - CAST(SUM(a) AS DOUBLE) * CAST(SUM(a) AS DOUBLE))
              * sqrt(COUNT(*) * CAST(SUM(b * b) AS DOUBLE)
                     - CAST(SUM(b) AS DOUBLE) * CAST(SUM(b) AS DOUBLE)))
               AS rho,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r {grp}
    """


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Cohen's kappa (1960) between two categorical columns, per group —
    chance-corrected agreement, entirely from integer counts:

    kappa = (n·Σ_c agree_c − Σ_c ra_c·rb_c) / (n² − Σ_c ra_c·rb_c)

    with ra/rb the per-label margins of the confusion matrix (the
    po/pe form multiplied through by n²).  Shape: one confusion-matrix
    aggregation, two margin aggregations of that (already tiny)
    relation, one join on (group, label) — no broadcast of anything
    data-sized.  Perfect chance agreement (pe = 1: a single label on
    both sides) emits NULL.  Output: ``keys…, kappa (double),
    n (bigint), agree (bigint)``.
    """
    df, gkeys = _with_group(df, keys)
    conf = (
        df.select(*gkeys, F.col(a_col).alias("__a"), F.col(b_col).alias("__bv"))
        .groupBy(*gkeys, "__a", "__bv")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ra = conf.groupBy(*gkeys, "__a").agg(F.sum("__c").alias("__ra")) \
        .withColumnRenamed("__a", "__l")
    rb = conf.groupBy(*gkeys, "__bv").agg(F.sum("__c").alias("__rb")) \
        .withColumnRenamed("__bv", "__l")
    pe_terms = ra.join(rb, [*gkeys, "__l"]).groupBy(*gkeys).agg(
        F.sum(F.col("__ra") * F.col("__rb")).cast("bigint").alias("__pe_n2"))
    po = conf.groupBy(*gkeys).agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__bv"), F.col("__c"))
              .otherwise(F.lit(0))).cast("bigint").alias("agree"),
    )
    out = po.join(pe_terms, list(gkeys))
    kappa = F.when(
        F.col("n") * F.col("n") != F.col("__pe_n2"),
        (F.col("n") * F.col("agree") - F.col("__pe_n2")).cast("double")
        / (F.col("n") * F.col("n") - F.col("__pe_n2")).cast("double"),
    )
    return out.select(*(list(keys) or []), kappa.alias("kappa"), "n", "agree")


def chao1_richness(
    df: DataFrame,
    term_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Chao1 species-richness estimate + Good-Turing unseen probability
    mass per group, from the frequency-of-frequencies of ``term_col``
    (one row per TOKEN OCCURRENCE in).

    Bias-corrected Chao1 (Chao 1984; defined even when f₂ = 0):
    ``chao1 = D + f₁·(f₁−1) / (2·(f₂+1))`` with D = distinct terms,
    f_k = #terms seen exactly k times.  Good-Turing unseen mass
    (Good 1953): ``p0 = f₁ / N`` with N = total occurrences.

    Shape: two shuffles — (group, term) counts, then the
    frequency-of-frequencies fold — both map-side combinable; the
    second relation is bounded by the distinct-count spectrum.  All
    integer until the two final double expressions.

    Output: ``keys…, distinct_terms, total_tokens, f1, f2,
    chao1 (double), gt_unseen_mass (double)``.
    """
    df, gkeys = _with_group(df, keys)
    tc = (
        df.groupBy(*gkeys, F.col(term_col).alias("__t"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = tc.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("bigint").alias("distinct_terms"),
        F.sum("__c").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    chao1 = (
        F.col("distinct_terms").cast("double")
        + (F.col("f1") * (F.col("f1") - F.lit(1))).cast("double")
        / (F.lit(2) * (F.col("f2") + F.lit(1))).cast("double")
    )
    p0 = F.col("f1").cast("double") / F.col("total_tokens").cast("double")
    return agg.select(
        *(list(keys) or []),
        "distinct_terms", "total_tokens", "f1", "f2",
        chao1.alias("chao1"), p0.alias("gt_unseen_mass"),
    )


def chao1_richness_sql(
    occurrences_cte: str,
    term_col: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`chao1_richness`.  ``occurrences_cte`` is a
    subquery producing one row per token occurrence with columns
    ``keys…, <term_col>``."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    return f"""
    WITH occ AS ({occurrences_cte}),
    tc AS (
      SELECT {kpref}{term_col} AS t, COUNT(*) AS c
      FROM occ GROUP BY {kpref}{term_col}
    ),
    a AS (
      SELECT {kpref}
             CAST(COUNT(*) AS BIGINT) AS distinct_terms,
             CAST(SUM(c) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM tc {grp}
    )
    SELECT {kpref}distinct_terms, total_tokens, f1, f2,
           CAST(distinct_terms AS DOUBLE)
             + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
             AS chao1,
           CAST(f1 AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS gt_unseen_mass
    FROM a
    """


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
) -> DataFrame:
    """Pooled two-proportion z-test of EACH group against the rest: the
    A/B-screen over conversion-style rates.  For group g with (x_g, n_g)
    and complement (x−x_g, n−n_g):

    z = (p_g − p_rest) / sqrt(p̂·(1−p̂)·(1/n_g + 1/n_rest)),  p̂ = x/n.

    Totals come from a one-row aggregate broadcast back (the scalar
    crossJoin idiom — no global window), so the whole plan is one
    grouped aggregation over the data plus bounded-relation arithmetic.
    Groups equal to the full relation (n_rest = 0) or a degenerate
    pooled rate (p̂ ∈ {{0, 1}}) emit NULL.  Doubles appear only in the
    final expression, every operation mirrored in the oracle.

    Output: ``group_col, n, successes, rate (double), z (double)``.
    """
    s = F.col(success_col).cast("bigint")
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(s).cast("bigint").alias("successes"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("__N"),
        F.sum("successes").cast("bigint").alias("__X"),
    )
    j = per.crossJoin(F.broadcast(tot))  # one-row totals — broadcast idiom
    n_g = F.col("n").cast("double")
    x_g = F.col("successes").cast("double")
    n_r = (F.col("__N") - F.col("n")).cast("double")
    x_r = (F.col("__X") - F.col("successes")).cast("double")
    phat = F.col("__X").cast("double") / F.col("__N").cast("double")
    z = F.when(
        (F.col("__N") > F.col("n"))
        & (F.col("__X") > 0) & (F.col("__X") < F.col("__N")),
        (x_g / n_g - x_r / n_r)
        / F.sqrt(phat * (F.lit(1.0) - phat) * (F.lit(1.0) / n_g + F.lit(1.0) / n_r)),
    )
    return j.select(
        group_col, "n", "successes",
        (x_g / n_g).alias("rate"), z.alias("z"),
    )


def two_proportion_ztest_sql(
    table: str,
    group_expr: str,
    success_expr: str,
) -> str:
    """DuckDB mirror of :func:`two_proportion_ztest` — identical operation
    order in the one double expression."""
    return f"""
    WITH per AS (
      SELECT {group_expr} AS g,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST({success_expr} AS BIGINT)) AS BIGINT) AS successes
      FROM {table} GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(successes) AS BIGINT) AS tx
      FROM per
    )
    SELECT g,
           n, successes,
           CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
           CASE WHEN tn > n AND tx > 0 AND tx < tn THEN
             (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(tx - successes AS DOUBLE) / CAST(tn - n AS DOUBLE))
             / sqrt((CAST(tx AS DOUBLE) / CAST(tn AS DOUBLE))
                    * (1.0 - CAST(tx AS DOUBLE) / CAST(tn AS DOUBLE))
                    * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(tn - n AS DOUBLE)))
           END AS z
    FROM per CROSS JOIN tot
    """


def calibration_report(
    df: DataFrame,
    p_micro_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact expected calibration error (ECE) + Brier score of a
    probability-like score held in INTEGER micro-units (0..``scale``)
    against a 0/1 label — the reliability audit for any score the
    pipeline wants to treat as a probability.

    The micro-unit trick makes both metrics single-division exact:

    * per bin b: |mean(p) − mean(y)| = |Σp_µ − scale·Σy| / (scale·n_b),
      so  ECE = Σ_b (n_b/n)·|…| = (Σ_b |Σp_µ − scale·Σy|_b) / (scale·n)
      — ONE integer numerator, ONE double division;
    * Brier = Σ(p−y)² / n = Σ(p_µ − scale·y)² / (scale²·n) — the
      numerator an exact bigint (≤ scale²·n: stage through
      DECIMAL(38,0) past ~9e6 rows at scale=1e6).

    Bin = min(p_µ·n_bins div scale, n_bins−1) (the right-closed last
    bin).  Output: one row — ``n``, ``ece``, ``brier`` (doubles) — plus
    the per-bin relation is available via :func:`calibration_bins`.
    """
    b = F.least(
        (F.col(p_micro_col) * n_bins).cast("bigint") / F.lit(scale),
        F.lit(n_bins - 1).cast("double"),
    ).cast("bigint")
    y = F.col(label_col).cast("bigint")
    binned = df.select(
        b.alias("__b"),
        F.col(p_micro_col).cast("bigint").alias("__p"),
        y.alias("__y"),
    ).groupBy("__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__p").cast("bigint").alias("__sp"),
        F.sum("__y").cast("bigint").alias("__sy"),
        # decimal-staged: the squared-residual sum reaches scale²·n
        # (int64 dies at ~9e6 rows for scale=1e6); exact to 10³⁸
        F.sum(((F.col("__p") - F.lit(scale) * F.col("__y"))
               * (F.col("__p") - F.lit(scale) * F.col("__y")))
              .cast("decimal(38,0)")).alias("__sq"),
    )
    tot = binned.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum(F.abs(F.col("__sp") - F.lit(scale) * F.col("__sy")))
        .cast("bigint").alias("__ece_num"),
        F.sum("__sq").alias("__brier_num"),
    )
    return tot.select(
        "n",
        (F.col("__ece_num").cast("double")
         / (F.lit(float(scale)) * F.col("n").cast("double"))).alias("ece"),
        (F.col("__brier_num").cast("double")
         / (F.lit(float(scale)) * F.lit(float(scale))
            * F.col("n").cast("double"))).alias("brier"),
    )


def calibration_report_sql(
    table: str,
    p_micro_expr: str,
    label_expr: str,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> str:
    """DuckDB mirror of :func:`calibration_report` — same integer
    numerators, same two double divisions (note Spark's ``least(x/…)``
    bin expression is mirrored as LEAST of the integer div)."""
    return f"""
    WITH pts AS (
      SELECT LEAST((CAST({p_micro_expr} AS BIGINT) * {n_bins}) // {scale},
                   {n_bins - 1}) AS b,
             CAST({p_micro_expr} AS BIGINT) AS p,
             CAST({label_expr} AS BIGINT) AS y
      FROM {table}
    ),
    binned AS (
      SELECT b,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(p) AS BIGINT) AS sp,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM((p - {scale} * y) * (p - {scale} * y)) AS sq
      FROM pts GROUP BY b
    )
    SELECT CAST(SUM(nb) AS BIGINT) AS n,
           CAST(SUM(ABS(sp - {scale} * sy)) AS DOUBLE)
             / (CAST({scale} AS DOUBLE) * CAST(SUM(nb) AS DOUBLE)) AS ece,
           CAST(SUM(sq) AS DOUBLE)
             / (CAST({scale} AS DOUBLE) * CAST({scale} AS DOUBLE)
                * CAST(SUM(nb) AS DOUBLE)) AS brier
    FROM binned
    """


def mannwhitney_z(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: Sequence[str] = (),
    nbuckets: int = 8192,
) -> DataFrame:
    """Tie-corrected Mann-Whitney U significance (normal approximation)
    per group — turns :func:`roc_auc` into a test: is the positive
    class's score distribution shifted?

    U = AUC·P·N (held doubled: U2 = the roc_auc numerator), with
    E[U2] = P·N and Var[U2] = 4·Var[U] where
    Var[U] = (P·N/12)·((n+1) − Σ_s(t_s³−t_s)/(n·(n−1))) (the standard
    tie correction; t_s = ties at score s).  z = (U2 − P·N)/√Var[U2].
    All inputs are exact integer sums (Σt³−t needs DECIMAL staging past
    ~2e6 ties on one score value); z is one mirrored double expression.
    Degenerate groups (P·N = 0, all scores tied, or n < 2) emit NULL.

    Output: ``keys…, auc (double), z (double), n_pos, n_neg``.
    """
    df, gkeys = _with_group(df, keys)
    lab = F.col(label_col).cast("bigint")
    d = (
        df.select(*gkeys, F.col(score_col).cast("bigint").alias("__s"),
                  lab.alias("__y"))
        .groupBy(*gkeys, "__s")
        .agg(F.sum("__y").alias("__pos"),
             F.sum(F.lit(1) - F.col("__y")).alias("__neg"))
    )
    c = cum_below(d, gkeys, "__s", ["__neg"], nbuckets=nbuckets)
    t = F.col("__pos") + F.col("__neg")
    # decimal-staged sums (the spearman overflow lesson); per-row t³
    # stays bigint — safe while no single score value carries more than
    # ~2.09e6 tied rows in one group (document-length scores at corpus
    # scale stay far under this; a heavier-tied score should be
    # pre-bucketed anyway)
    agg = c.groupBy(*gkeys).agg(
        F.sum((F.col("__pos") * (F.lit(2) * F.col("below___neg")
                                 + F.col("__neg"))).cast("decimal(38,0)"))
        .alias("__num2"),
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum("__neg").cast("bigint").alias("n_neg"),
        F.sum((t * t * t - t).cast("decimal(38,0)")).alias("__t3"),
        # all-scores-tied guard by DISTINCT-score count: the naive
        # t3 = n³−n comparison would itself overflow bigint at n > 2e6
        F.count(F.lit(1)).cast("bigint").alias("__n_scores"),
    )
    n = F.col("n_pos") + F.col("n_neg")
    pn = F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    var_u = (pn / F.lit(12.0)) * (
        (n + F.lit(1)).cast("double")
        - F.col("__t3").cast("double")
        / (n.cast("double") * (n - F.lit(1)).cast("double"))
    )
    auc = F.col("__num2").cast("double") / (F.lit(2.0) * pn)
    z = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0) & (n > 1)
        & (F.col("__n_scores") > 1),
        (F.col("__num2").cast("double") - pn)
        / F.sqrt(F.lit(4.0) * var_u),
    )
    return agg.select(
        *(list(keys) or []),
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc).alias("auc"),
        z.alias("z"), "n_pos", "n_neg",
    )


def mannwhitney_z_sql(
    table: str,
    score_expr: str,
    label_expr: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`mannwhitney_z` — identical integer sums
    and double-expression operation order."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    part = f"PARTITION BY {kcols} " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    return f"""
    WITH pts AS (
      SELECT {kpref}CAST({score_expr} AS BIGINT) AS s,
             CAST({label_expr} AS BIGINT) AS y
      FROM {table}
    ),
    d AS (
      SELECT {kpref}s, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM pts GROUP BY {kpref}s
    ),
    c AS (
      SELECT {kpref}s, pos, neg,
             COALESCE(SUM(neg) OVER ({part}ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM d
    ),
    a AS (
      SELECT {kpref}
             CAST(SUM(pos * (2 * below + neg)) AS BIGINT) AS num2,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             SUM((pos + neg) * (pos + neg) * (pos + neg)
                 - (pos + neg)) AS t3,
             CAST(COUNT(*) AS BIGINT) AS n_scores
      FROM c {grp}
    )
    SELECT {kpref}
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(num2 AS DOUBLE)
             / (2.0 * (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
           END AS auc,
           CASE WHEN n_pos > 0 AND n_neg > 0 AND n_pos + n_neg > 1
                     AND n_scores > 1 THEN
             (CAST(num2 AS DOUBLE)
              - CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
             / sqrt(4.0 * ((CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                           / 12.0
                    * (CAST(n_pos + n_neg + 1 AS DOUBLE)
                       - CAST(t3 AS DOUBLE)
                         / (CAST(n_pos + n_neg AS DOUBLE)
                            * CAST(n_pos + n_neg - 1 AS DOUBLE)))))
           END AS z,
           n_pos, n_neg
    FROM a
    """


def js_divergence_by_group(
    df: DataFrame,
    group_col: str,
    term_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence (nats) of each group's term
    distribution against the WHOLE corpus's — the distributional
    signature of source drift / mixture imbalance (0 = identical,
    ln 2 ≈ 0.693 = disjoint support).  Input: one row per term
    OCCURRENCE.

    The scale trick: JSD = ½·Σ_t [p·ln(p/m) + q·ln(q/m)] needs the sum
    over the CORPUS vocabulary per group — |groups|·|vocab| rows if done
    naively.  But for terms absent from the group, p = 0 and m = q/2, so
    the term is q·ln 2 — closed form, no row needed:

        JSD_s = ½·Σ_{t∈s}[p·ln(p/m) + q·ln(q/m)] + ½·ln 2·(1 − cov_s),

    cov_s = Σ_{t∈s} q_t (the corpus mass the group's vocabulary covers).
    The per-(group, term) relation is exactly the input count relation —
    one shuffle on term (join corpus counts), one on group (the fold).

    Determinism: transcendental-bearing terms are summed with the
    repo's SORTED-array fold (array_sort on term, then a left fold),
    and the result rounds to 9 decimals (the drift_psi policy — libm
    ln differs in the last ulp across engines).

    Output: ``group_col, jsd (double), n_terms (bigint; the group's
    distinct vocabulary), n_tokens (bigint)``.
    """
    tc = (
        df.select(F.col(group_col).alias("__s"), F.col(term_col).alias("__t"))
        .groupBy("__s", "__t").agg(F.count(F.lit(1)).alias("__c"))
    )
    stot = tc.groupBy("__s").agg(F.sum("__c").cast("bigint").alias("__ns"))
    corpus = tc.groupBy("__t").agg(F.sum("__c").cast("bigint").alias("__cc"))
    ctot = corpus.agg(F.sum("__cc").cast("bigint").alias("__n"))
    j = (
        tc.join(corpus, "__t")
        .join(stot, "__s")
        .crossJoin(F.broadcast(ctot))  # one-row corpus total — scalar idiom
    )
    p = F.col("__c").cast("double") / F.col("__ns").cast("double")
    q = F.col("__cc").cast("double") / F.col("__n").cast("double")
    m = (p + q) / F.lit(2.0)
    terms = j.select(
        "__s", "__t",
        (p * F.log(p / m) + q * F.log(q / m)).alias("__term"),
        q.alias("__q"),
        F.col("__ns"),
    )
    pairs = F.array_sort(F.collect_list(F.struct(F.col("__t"), F.col("__term"))))
    insum = F.aggregate(pairs, F.lit(0.0), lambda acc, s: acc + s["__term"])
    cov_pairs = F.array_sort(F.collect_list(F.struct(F.col("__t"), F.col("__q"))))
    cov = F.aggregate(cov_pairs, F.lit(0.0), lambda acc, s: acc + s["__q"])
    agg = terms.groupBy("__s").agg(
        insum.alias("__in"), cov.alias("__cov"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.first("__ns").alias("n_tokens"),
    )
    ln2 = float(__import__("math").log(2.0))
    jsd = (F.lit(0.5) * F.col("__in")
           + F.lit(0.5) * F.lit(ln2) * (F.lit(1.0) - F.col("__cov")))
    return agg.select(
        F.col("__s").alias(group_col),
        F.round(jsd, 9).alias("jsd"),
        "n_terms", "n_tokens",
    )


def js_divergence_by_group_sql(
    occurrences_cte: str,
    group_col: str,
    term_col: str,
) -> str:
    """DuckDB mirror of :func:`js_divergence_by_group` — same
    closed-form absent-term remainder, same sorted-fold term order,
    same 9-decimal round."""
    import math

    ln2 = float(math.log(2.0))
    return f"""
    WITH occ AS ({occurrences_cte}),
    tc AS (
      SELECT {group_col} AS s, {term_col} AS t, COUNT(*) AS c
      FROM occ GROUP BY 1, 2
    ),
    stot AS (SELECT s, CAST(SUM(c) AS BIGINT) AS ns FROM tc GROUP BY 1),
    corpus AS (SELECT t, CAST(SUM(c) AS BIGINT) AS cc FROM tc GROUP BY 1),
    ctot AS (SELECT CAST(SUM(cc) AS BIGINT) AS n FROM corpus),
    terms AS (
      SELECT tc.s, tc.t,
             (CAST(tc.c AS DOUBLE) / CAST(ns AS DOUBLE))
               * ln((CAST(tc.c AS DOUBLE) / CAST(ns AS DOUBLE))
                    / ((CAST(tc.c AS DOUBLE) / CAST(ns AS DOUBLE)
                        + CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
             + (CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
               * ln((CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
                    / ((CAST(tc.c AS DOUBLE) / CAST(ns AS DOUBLE)
                        + CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0))
               AS term,
             CAST(cc AS DOUBLE) / CAST(n AS DOUBLE) AS q,
             ns
      FROM tc JOIN corpus USING (t) JOIN stot USING (s) CROSS JOIN ctot
    )
    SELECT s AS {group_col},
           round(0.5 * list_reduce(
                   list_prepend(0.0, list_sort(list({{'t': t, 'x': term}}))
                                .apply(e -> e.x)),
                   (acc, x) -> acc + x)
                 + 0.5 * {ln2!r} * (1.0 - list_reduce(
                   list_prepend(0.0, list_sort(list({{'t': t, 'x': q}}))
                                .apply(e -> e.x)),
                   (acc, x) -> acc + x)), 9) AS jsd,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MIN(ns) AS BIGINT) AS n_tokens
    FROM terms GROUP BY s
    """


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V — the association screen over label-shaped
    metadata (does source predict language? does shard predict label?).

    χ² = n·(Σ_ij c_ij²/(r_i·k_j) − 1): one confusion-matrix aggregation,
    two margin folds of that tiny relation, and a SORTED-array fold for
    the rational-term sum (the drift_psi determinism discipline —
    division order is fixed by sorting on the (a, b) cell key).
    V = √(χ²/(n·(min(R,K)−1))); dof = (R−1)(K−1).  Single-category
    sides (dof = 0) emit NULL χ²/V.

    Output: one row — ``chi2 (double, 9-dec), cramers_v (double,
    9-dec), dof (bigint), n (bigint)``.
    """
    conf = (
        df.select(F.col(a_col).alias("__a"), F.col(b_col).alias("__bv"))
        .groupBy("__a", "__bv").agg(F.count(F.lit(1)).alias("__c"))
    )
    ra = conf.groupBy("__a").agg(F.sum("__c").cast("bigint").alias("__ra"))
    rb = conf.groupBy("__bv").agg(F.sum("__c").cast("bigint").alias("__rb"))
    j = conf.join(F.broadcast(ra), "__a").join(F.broadcast(rb), "__bv")
    term = (
        (F.col("__c") * F.col("__c")).cast("double")
        / (F.col("__ra") * F.col("__rb")).cast("double")
    )
    cells = j.select("__a", "__bv", term.alias("__t"), F.col("__c"))
    pairs = F.array_sort(F.collect_list(
        F.struct(F.col("__a"), F.col("__bv"), F.col("__t"))))
    ssum = F.aggregate(pairs, F.lit(0.0), lambda acc, s: acc + s["__t"])
    agg = cells.agg(
        ssum.alias("__s"),
        F.sum("__c").cast("bigint").alias("n"),
        F.count_distinct(F.col("__a")).cast("bigint").alias("__nr"),
        F.count_distinct(F.col("__bv")).cast("bigint").alias("__nk"),
    )
    chi2 = F.col("n").cast("double") * (F.col("__s") - F.lit(1.0))
    dof = (F.col("__nr") - 1) * (F.col("__nk") - 1)
    v = F.sqrt(
        chi2 / (F.col("n").cast("double")
                * (F.least("__nr", "__nk") - F.lit(1)).cast("double")))
    return agg.select(
        F.when(dof > 0, F.round(chi2, 9)).alias("chi2"),
        F.when(dof > 0, F.round(v, 9)).alias("cramers_v"),
        dof.cast("bigint").alias("dof"),
        "n",
    )


def chi2_independence_sql(table: str, a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of :func:`chi2_independence` — same cell-keyed
    sorted fold, same expression order, same 9-decimal rounds."""
    return f"""
    WITH pts AS (SELECT {a_expr} AS a, {b_expr} AS b FROM {table}),
    conf AS (SELECT a, b, COUNT(*) AS c FROM pts GROUP BY a, b),
    ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM conf GROUP BY a),
    rb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rb FROM conf GROUP BY b),
    cells AS (
      SELECT conf.a, conf.b,
             CAST(c * c AS DOUBLE) / CAST(ra * rb AS DOUBLE) AS t, c
      FROM conf JOIN ra USING (a) JOIN rb USING (b)
    ),
    agg AS (
      SELECT list_reduce(
               list_prepend(0.0, list_sort(list({{'a': a, 'b': b, 't': t}}))
                            .apply(e -> e.t)),
               (acc, x) -> acc + x) AS s,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS nk
      FROM cells
    )
    SELECT CASE WHEN (nr - 1) * (nk - 1) > 0 THEN
             round(CAST(n AS DOUBLE) * (s - 1.0), 9) END AS chi2,
           CASE WHEN (nr - 1) * (nk - 1) > 0 THEN
             round(sqrt(CAST(n AS DOUBLE) * (s - 1.0)
                        / (CAST(n AS DOUBLE)
                           * CAST(LEAST(nr, nk) - 1 AS DOUBLE))), 9)
           END AS cramers_v,
           CAST((nr - 1) * (nk - 1) AS BIGINT) AS dof,
           n
    FROM agg
    """


def mutual_information(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, with
    the normalized variant NMI = MI/√(H(a)·H(b)) — how much one label
    tells you about the other (0 = independent; the dependence-strength
    companion to :func:`chi2_independence`'s significance).

    MI = Σ_ij p_ij·ln(n·c_ij/(r_i·k_j)) over the contingency cells —
    ratios of exact integers inside the ln, sorted-fold summation on
    the (a, b) cell key, 9-decimal round (the repo transcendental
    policy).  Entropies fold the margin relations the same way.
    Degenerate sides (H = 0) emit NULL nmi.

    Output: one row — ``mi, nmi (double), n (bigint)``.
    """
    conf = (
        df.select(F.col(a_col).alias("__a"), F.col(b_col).alias("__bv"))
        .groupBy("__a", "__bv").agg(F.count(F.lit(1)).alias("__c"))
    )
    ra = conf.groupBy("__a").agg(F.sum("__c").cast("bigint").alias("__ra"))
    rb = conf.groupBy("__bv").agg(F.sum("__c").cast("bigint").alias("__rb"))
    tot = conf.agg(F.sum("__c").cast("bigint").alias("__n"))
    j = (conf.join(F.broadcast(ra), "__a").join(F.broadcast(rb), "__bv")
         .crossJoin(F.broadcast(tot)))  # one-row total — scalar idiom
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    term = p * F.log(
        (F.col("__n") * F.col("__c")).cast("double")
        / (F.col("__ra") * F.col("__rb")).cast("double"))
    cells = j.select("__a", "__bv", term.alias("__t"), F.col("__c"),
                     F.col("__n"))
    mi_pairs = F.array_sort(F.collect_list(
        F.struct(F.col("__a"), F.col("__bv"), F.col("__t"))))
    mi_sum = F.aggregate(mi_pairs, F.lit(0.0), lambda acc, s: acc + s["__t"])
    mi_n = cells.agg(mi_sum.alias("__mi"), F.first("__n").alias("n"))

    def _entropy(margin: DataFrame, key: str, cnt: str) -> DataFrame:
        m = margin.crossJoin(F.broadcast(tot))
        q = F.col(cnt).cast("double") / F.col("__n").cast("double")
        t = m.select(F.col(key), (-q * F.log(q)).alias("__h"))
        hp = F.array_sort(F.collect_list(F.struct(F.col(key), F.col("__h"))))
        return t.agg(F.aggregate(
            hp, F.lit(0.0), lambda acc, s: acc + s["__h"]).alias("h"))

    ha = _entropy(ra, "__a", "__ra").select(F.col("h").alias("__ha"))
    hb = _entropy(rb, "__bv", "__rb").select(F.col("h").alias("__hb"))
    out = mi_n.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
    nmi = F.when(
        (F.col("__ha") > 0) & (F.col("__hb") > 0),
        F.round(F.col("__mi") / F.sqrt(F.col("__ha") * F.col("__hb")), 9))
    return out.select(
        F.round("__mi", 9).alias("mi"), nmi.alias("nmi"), "n")


def mutual_information_sql(table: str, a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of :func:`mutual_information` — same cell-keyed and
    margin-keyed sorted folds, same operation order, same rounds."""
    return f"""
    WITH pts AS (SELECT {a_expr} AS a, {b_expr} AS b FROM {table}),
    conf AS (SELECT a, b, COUNT(*) AS c FROM pts GROUP BY a, b),
    ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM conf GROUP BY a),
    rb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rb FROM conf GROUP BY b),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM conf),
    cells AS (
      SELECT conf.a, conf.b,
             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(n * c AS DOUBLE) / CAST(ra * rb AS DOUBLE)) AS t
      FROM conf JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot
    ),
    mi_ AS (
      SELECT list_reduce(
               list_prepend(0.0, list_sort(list({{'a': a, 'b': b, 't': t}}))
                            .apply(e -> e.t)),
               (acc, x) -> acc + x) AS mi
      FROM cells
    ),
    ha_ AS (
      SELECT list_reduce(
               list_prepend(0.0, list_sort(list(
                 {{'k': a,
                   'h': -(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))}}))
                            .apply(e -> e.h)),
               (acc, x) -> acc + x) AS ha
      FROM ra CROSS JOIN tot
    ),
    hb_ AS (
      SELECT list_reduce(
               list_prepend(0.0, list_sort(list(
                 {{'k': b,
                   'h': -(CAST(rb AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(rb AS DOUBLE) / CAST(n AS DOUBLE))}}))
                            .apply(e -> e.h)),
               (acc, x) -> acc + x) AS hb
      FROM rb CROSS JOIN tot
    )
    SELECT round(mi, 9) AS mi,
           CASE WHEN ha > 0 AND hb > 0 THEN
             round(mi / sqrt(ha * hb), 9) END AS nmi,
           n
    FROM mi_ CROSS JOIN ha_ CROSS JOIN hb_ CROSS JOIN tot
    """


def classification_report(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 from exact confusion counts —
    the standard multi-class evaluation table, every metric ONE
    integer-ratio division (F1 via the single-division identity
    ``2·tp/(2·tp+fp+fn)``, never the harmonic-mean-of-two-doubles
    form).  Classes absent from one side still appear (full outer
    margin join); zero-support edges emit NULL rather than 0/0.

    Shape: one confusion-matrix aggregation, two margins of the tiny
    cell relation, one outer join on class — nothing data-sized moves
    after the first shuffle.  Output: one row per class —
    ``label, tp, fp, fn, precision, recall, f1 (doubles)``.
    """
    conf = (
        df.select(F.col(truth_col).alias("__t"), F.col(pred_col).alias("__p"))
        .groupBy("__t", "__p").agg(F.count(F.lit(1)).alias("__c"))
    )
    tp = (conf.where(F.col("__t") == F.col("__p"))
          .select(F.col("__t").alias("label"),
                  F.col("__c").cast("bigint").alias("tp")))
    truth_m = conf.groupBy(F.col("__t").alias("label")).agg(
        F.sum("__c").cast("bigint").alias("__support"))
    pred_m = conf.groupBy(F.col("__p").alias("label")).agg(
        F.sum("__c").cast("bigint").alias("__predicted"))
    j = (truth_m.join(pred_m, "label", "full")
         .join(tp, "label", "left")
         .select(
             "label",
             F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
             (F.coalesce("__predicted", F.lit(0))
              - F.coalesce("tp", F.lit(0))).cast("bigint").alias("fp"),
             (F.coalesce("__support", F.lit(0))
              - F.coalesce("tp", F.lit(0))).cast("bigint").alias("fn"),
         ))
    prec = F.when(F.col("tp") + F.col("fp") > 0,
                  F.col("tp").cast("double")
                  / (F.col("tp") + F.col("fp")).cast("double"))
    rec = F.when(F.col("tp") + F.col("fn") > 0,
                 F.col("tp").cast("double")
                 / (F.col("tp") + F.col("fn")).cast("double"))
    f1 = F.when(F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                (F.lit(2) * F.col("tp")).cast("double")
                / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))
                .cast("double"))
    return j.select("label", "tp", "fp", "fn",
                    prec.alias("precision"), rec.alias("recall"),
                    f1.alias("f1"))


def classification_report_sql(table: str, truth_expr: str, pred_expr: str) -> str:
    """DuckDB mirror of :func:`classification_report` — same margins,
    same single-division identities."""
    return f"""
    WITH pts AS (SELECT {truth_expr} AS t, {pred_expr} AS p FROM {table}),
    conf AS (SELECT t, p, COUNT(*) AS c FROM pts GROUP BY t, p),
    tp AS (SELECT t AS label, CAST(c AS BIGINT) AS tp FROM conf WHERE t = p),
    tm AS (SELECT t AS label, CAST(SUM(c) AS BIGINT) AS support
           FROM conf GROUP BY t),
    pm AS (SELECT p AS label, CAST(SUM(c) AS BIGINT) AS predicted
           FROM conf GROUP BY p),
    j AS (
      SELECT label,
             CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
             CAST(COALESCE(predicted, 0) - COALESCE(tp, 0) AS BIGINT) AS fp,
             CAST(COALESCE(support, 0) - COALESCE(tp, 0) AS BIGINT) AS fn
      FROM tm FULL JOIN pm USING (label) LEFT JOIN tp USING (label)
    )
    SELECT label, tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN
             CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           CASE WHEN tp + fn > 0 THEN
             CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
           END AS f1
    FROM j
    """


def auc_moment_relation(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """The MERGEABLE sufficient statistic for exact ROC-AUC: per-group
    per-distinct-score positive/negative counts.  An additive monoid —
    union the relations of any corpus split and re-aggregate, and you
    hold EXACTLY the whole-corpus moments, so incremental AUC (daily
    ingest batches, shard-parallel scans) is bitwise the batch AUC
    (the incremental-PCA moment-relation convention).

    Output: ``keys…, score (bigint), pos (bigint), neg (bigint)``.
    """
    gkeys = list(keys)
    lab = F.col(label_col).cast("bigint")
    return (
        df.select(*gkeys, F.col(score_col).cast("bigint").alias("score"),
                  lab.alias("__y"))
        .groupBy(*gkeys, "score")
        .agg(F.sum("__y").cast("bigint").alias("pos"),
             F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("neg"))
    )


def auc_moment_merge(*relations: DataFrame) -> DataFrame:
    """Merge AUC moment relations (additive monoid): union + re-sum.
    ``auc_from_moments(auc_moment_merge(a, b)) ==
    roc_auc(a_rows ∪ b_rows)`` bitwise."""
    u = relations[0]
    for r in relations[1:]:
        u = u.unionByName(r)
    other = [c for c in u.columns if c not in ("pos", "neg")]
    return u.groupBy(*other).agg(
        F.sum("pos").cast("bigint").alias("pos"),
        F.sum("neg").cast("bigint").alias("neg"))


def auc_from_moments(
    moments: DataFrame,
    keys: Sequence[str] = (),
    nbuckets: int = 8192,
) -> DataFrame:
    """Finalize exact tie-corrected AUC from a (merged) moment relation —
    the :func:`roc_auc` tail stage (cum_below + the doubled-numerator
    fold) applied to pre-aggregated counts."""
    m, gkeys = _with_group(moments, keys)
    m = m.withColumnRenamed("score", "__s") \
         .withColumnRenamed("pos", "__pos").withColumnRenamed("neg", "__neg")
    c = cum_below(m, gkeys, "__s", ["__neg"], nbuckets=nbuckets)
    agg = c.groupBy(*gkeys).agg(
        F.sum((F.col("__pos") * (F.lit(2) * F.col("below___neg")
                                 + F.col("__neg"))).cast("decimal(38,0)"))
        .alias("__num2"),
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum("__neg").cast("bigint").alias("n_neg"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("__num2").cast("double")
        / (F.lit(2.0) * F.col("n_pos").cast("double")
           * F.col("n_neg").cast("double")),
    )
    return agg.select(*(list(keys) or []), auc.alias("auc"), "n_pos", "n_neg")


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (time-to-event with right censoring)
# ---------------------------------------------------------------------------

def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """KAPLAN-MEIER product-limit survival estimate (Kaplan & Meier,
    JASA 1958 — public literature): from one row per SUBJECT with an
    integer ``duration_col`` and ``event_col`` (1 = the event was
    observed at that duration, 0 = right-censored there), estimate
    S(t) = Π_{t_j ≤ t} (1 − d_j/n_j) at every observed event time —
    the retention / time-to-conversion curve of product analytics and
    the churn model's nonparametric baseline.

    Exactness: d_j (events at t_j) and n_j (subjects still at risk:
    duration ≥ t_j, censored included) are exact integer sums; each
    factor folds as ``round(ln(1 − d/n), 9)`` (the repo's 9-decimal ln
    discipline) summed LEFT-TO-RIGHT over the time-sorted factor list
    and exponentiated once per emitted row, so both engines walk an
    identical fixed-parenthesization chain (SQL mirror
    :func:`kaplan_meier_sql`).  A time where d = n (everyone remaining
    exits) sends the curve to exactly 0.0 from that row on — guarded
    explicitly because ln(0) is NULL on Spark and an ERROR on DuckDB.

    Scale: the subject relation aggregates to the DISTINCT-DURATION
    relation first (map-side combinable), and only that bounded
    relation is collected per group into the sorted factor array — the
    contract is bounded distinct durations per group (calendar-bucketed
    durations: days, hours within a horizon), NEVER raw microseconds;
    re-bucket upstream if unbounded.  The prefix fold re-folds per
    emitted row (O(k²) on k ≤ a few hundred distinct times — branchless
    vectorized HOFs on a bounded array, not a corpus stream).

    Output: ``keys…, duration, n_risk, n_events, survival`` — one row
    per duration with d > 0 (the curve's step points).
    """
    df, gkeys = _with_group(df, keys)
    b = _km_curve(df, duration_col, event_col, gkeys)
    out = (
        b.select(*gkeys, F.explode(F.col("__arr_s")).alias("__x"))
        .where(F.col("__x.d") > 0)
        .select(*(list(keys) or []),
                F.col("__x.t").alias("duration"),
                F.col("__x.n").alias("n_risk"),
                F.col("__x.d").alias("n_events"),
                F.col("__x.survival").alias("survival"))
    )
    return out


def _risk_set_arr(df: DataFrame, duration_col: str, event_col: str,
                  gkeys: "list[str]") -> DataFrame:
    """Shared survival pass 1: per group, the time-sorted step array
    ``__arr2`` of structs (t, d, n) — d (events at t) and c (censored
    at t) are exact integer sums over the DISTINCT-duration relation,
    and n (at risk at t) = total − Σ_{i<j} (d_i + c_i) by an exact
    integer prefix fold.  Used by :func:`_km_curve` (product-limit) and
    :func:`nelson_aalen` (cumulative hazard)."""
    ev = F.col(event_col).cast("bigint")
    g = (
        df.select(*gkeys,
                  F.col(duration_col).cast("bigint").alias("__t"),
                  ev.alias("__e"))
        .groupBy(*gkeys, "__t")
        .agg(F.sum("__e").alias("__d"),
             F.sum(F.lit(1) - F.col("__e")).alias("__c"))
    )
    a = g.groupBy(*gkeys).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("__t").alias("t"), F.col("__d").alias("d"),
                     F.col("__c").alias("c")))).alias("__arr"),
        F.sum(F.col("__d") + F.col("__c")).alias("__total"),
    )
    # pass 1: at-risk counts n_j = total − Σ_{i<j} (d_i + c_i)
    arr_n = F.transform(
        F.col("__arr"),
        lambda x, i: F.struct(
            x["t"].alias("t"), x["d"].alias("d"),
            (F.col("__total") - F.aggregate(
                F.slice(F.col("__arr"), F.lit(1), i),
                F.lit(0).cast("bigint"),
                lambda acc, y: acc + y["d"] + y["c"])).alias("n")))
    return a.select(*gkeys, arr_n.alias("__arr2"))


def _km_curve(df: DataFrame, duration_col: str, event_col: str,
              gkeys: "list[str]") -> DataFrame:
    """Shared product-limit machinery: per group, the time-sorted step
    array ``__arr_s`` of structs (t, d, n, survival) — survival exactly
    as documented on :func:`kaplan_meier` (rounded-ln left folds, d = n
    absorbing 0.0).  Used by kaplan_meier (explode) and
    :func:`restricted_mean_survival` (area fold)."""
    b = _risk_set_arr(df, duration_col, event_col, gkeys)
    # pass 2: per-step survival = exp(left-fold of rounded ln factors),
    # pinned to exactly 0.0 once any prefix step had d = n
    arr_s = F.transform(
        F.col("__arr2"),
        lambda x, i: F.struct(
            x["t"].alias("t"), x["d"].alias("d"), x["n"].alias("n"),
            F.when(
                F.aggregate(
                    F.slice(F.col("__arr2"), F.lit(1), i + 1),
                    F.lit(False),
                    lambda acc, y: acc | (y["d"] == y["n"])),
                F.lit(0.0),
            ).otherwise(F.round(F.exp(F.aggregate(
                F.slice(F.col("__arr2"), F.lit(1), i + 1),
                F.lit(0.0),
                lambda acc, y: acc + F.when(
                    y["d"] > 0,
                    F.round(F.log(
                        F.lit(1.0) - y["d"].cast("double")
                        / y["n"].cast("double")), 9),
                ).otherwise(F.lit(0.0)))), 9)).alias("survival")))
    return b.select(*gkeys, arr_s.alias("__arr_s"))


def kaplan_meier_sql(
    subjects_sql: str,
    duration_expr: str = "duration",
    event_expr: str = "event",
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`kaplan_meier` — identical integer risk
    sets and the same left-folded rounded-ln factor chain (single-float
    ``list_reduce`` accumulators only: immune to the multi-float struct
    hazard documented at holt_last_sql)."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    kout = f"{kpref}" if keys else ""
    return f"""
    WITH subj AS ({subjects_sql}),
    g AS (
        SELECT {kpref}CAST({duration_expr} AS BIGINT) AS t,
               CAST(SUM(CAST({event_expr} AS BIGINT)) AS BIGINT) AS d,
               CAST(SUM(1 - CAST({event_expr} AS BIGINT)) AS BIGINT) AS c
        FROM subj GROUP BY {kpref}t
    ),
    a AS (
        SELECT {kpref}
               list_sort(list({{'t': t, 'd': d, 'c': c}})) AS arr,
               CAST(SUM(d + c) AS BIGINT) AS total
        FROM g {grp}
    ),
    b AS (
        SELECT {kpref}
               list_transform(arr, (x, i) -> {{
                   't': x.t, 'd': x.d,
                   'n': total - list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(arr[1:i-1], y -> y.d + y.c)),
                       (p, q) -> p + q)}}) AS arr2
        FROM a
    ),
    e AS (
        SELECT {kpref}
               unnest(list_transform(arr2, (x, i) -> {{
                   't': x.t, 'd': x.d, 'n': x.n,
                   'survival': CASE WHEN list_reduce(
                           list_prepend(FALSE,
                               list_transform(arr2[1:i], y -> y.d = y.n)),
                           (p, q) -> p OR q)
                       THEN 0.0
                       ELSE round(exp(list_reduce(
                           list_prepend(0.0,
                               list_transform(arr2[1:i],
                                   y -> CASE WHEN y.d > 0 THEN
                                       round(ln(1.0 - CAST(y.d AS DOUBLE)
                                             / CAST(y.n AS DOUBLE)), 9)
                                       ELSE 0.0 END)),
                           (p, q) -> p + q)), 9) END}}),
                   recursive := true)
        FROM b
    )
    SELECT {kout}t AS duration, n AS n_risk, d AS n_events, survival
    FROM e WHERE d > 0
    """


# ---------------------------------------------------------------------------
# One-way ANOVA
# ---------------------------------------------------------------------------

def anova_f(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """ONE-WAY ANOVA F statistic (Fisher 1925): does the mean of an
    integer-valued column differ across k groups?  The k-sample
    extension of the two-sample tests already in this module
    (mannwhitney_z / two_proportion_ztest).

    Decomposition from exact per-group integer moments (n_g, S_g = Σx,
    Q_g = Σx², the last DECIMAL-staged): with T = Σ_g S_g²/n_g,
    SSB = T − S²/n and SSW = Q − T; F = (SSB/(k−1)) / (SSW/(n−k)).
    Each S_g²/n_g is a fixed three-op double chain computed per group,
    and T folds those terms LEFT-TO-RIGHT over the group-key-sorted
    bounded per-group list (the sorted-fold discipline — groups are
    bounded by construction), so both engines produce the identical
    double (SQL mirror :func:`anova_f_sql`).  Degenerate inputs (k < 2,
    n ≤ k, or SSW = 0) emit NULL F.

    Output: one row ``(k, n, ssb, ssw, f)``.
    """
    g = (
        df.select(F.col(group_col).cast("string").alias("__g"),
                  F.col(value_col).cast("bigint").alias("__x"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n"),
             F.sum("__x").alias("__s"),
             F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,0)"))
             .alias("__q"))
        .select("__g", "__n", "__s", "__q",
                (F.col("__s").cast("double") * F.col("__s").cast("double")
                 / F.col("__n").cast("double")).alias("__t"))
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__s").cast("decimal(38,0)").alias("__S"),
        F.sum("__q").alias("__Q"),
        F.aggregate(
            F.array_sort(F.collect_list(
                F.struct(F.col("__g").alias("g"), F.col("__t").alias("t")))),
            F.lit(0.0), lambda acc, x: acc + x["t"]).alias("__T"),
    )
    grand = (F.col("__S").cast("double") * F.col("__S").cast("double")
             / F.col("n").cast("double"))
    ssb = F.col("__T") - grand
    ssw = F.col("__Q").cast("double") - F.col("__T")
    f = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0.0),
        (ssb / (F.col("k") - F.lit(1)).cast("double"))
        / (ssw / (F.col("n") - F.col("k")).cast("double")))
    return agg.select("k", "n", ssb.alias("ssb"), ssw.alias("ssw"),
                      f.alias("f"))


def anova_f_sql(table: str, value_expr: str, group_expr: str) -> str:
    """DuckDB mirror of :func:`anova_f` — identical integer moments and
    the same group-sorted left-folded term chain."""
    return f"""
    WITH g AS (
        SELECT CAST({group_expr} AS VARCHAR) AS g,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS BIGINT) AS s_g,
               SUM(CAST(CAST({value_expr} AS BIGINT)
                        * CAST({value_expr} AS BIGINT)
                        AS DECIMAL(38,0))) AS q_g,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS DOUBLE)
                   * CAST(SUM(CAST({value_expr} AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS t_g
        FROM {table} GROUP BY 1
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(s_g) AS DECIMAL(38,0)) AS s,
               CAST(SUM(q_g) AS DECIMAL(38,0)) AS q,
               list_reduce(
                   list_prepend(0.0,
                       list_transform(list_sort(list({{'g': g, 't': t_g}})),
                                      x -> x.t)),
                   (p, x) -> p + x) AS t
        FROM g
    )
    SELECT k, n,
           t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n AS DOUBLE) AS ssb,
           CAST(q AS DOUBLE) - t AS ssw,
           CASE WHEN k > 1 AND n > k AND CAST(q AS DOUBLE) - t > 0.0 THEN
               ((t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
               / ((CAST(q AS DOUBLE) - t) / CAST(n - k AS DOUBLE))
           END AS f
    FROM a
    """


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """LOG-RANK TEST (Mantel 1966; Peto & Peto 1972): are two groups'
    survival curves the same?  The hypothesis test that pairs with
    :func:`kaplan_meier` — O1/E1 = observed/expected events in group 1
    under the null, summed over pooled event times with the
    hypergeometric variance.

    ``group_col`` must be 0/1 (binary cohorts).  At each pooled event
    time t_j: n_j at risk (both groups), n1_j at risk in group 1, d_j
    total events, d1_j group-1 events; E1 += d_j·n1_j/n_j and
    V += d_j·(n1_j/n_j)·(1 − n1_j/n_j)·(n_j − d_j)/(n_j − 1).
    z = (O1 − E1)/√V, chi2 = z².

    Exactness: every count is an exact integer from the
    distinct-duration relation (bounded, same contract as
    kaplan_meier); each E1/V term is a fixed-parenthesization chain of
    +,·,/ on exact integer casts (no transcendental — no rounding
    needed), folded LEFT-TO-RIGHT over the time-sorted list; z is one
    final double chain.  SQL mirror :func:`logrank_test_sql`.
    Degenerate inputs (V = 0 or a single cohort) emit NULL z/chi2.

    Output: one row ``(o1, e1, v, z, chi2)``.
    """
    g = (
        df.select(F.col(duration_col).cast("bigint").alias("__t"),
                  F.col(event_col).cast("bigint").alias("__e"),
                  F.col(group_col).cast("bigint").alias("__g1"))
        .groupBy("__t")
        .agg(F.sum("__e").alias("__d"),
             F.sum(F.col("__e") * F.col("__g1")).alias("__d1"),
             F.count(F.lit(1)).alias("__m"),
             F.sum("__g1").alias("__m1"))
    )
    a = g.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("__t").alias("t"), F.col("__d").alias("d"),
            F.col("__d1").alias("d1"), F.col("__m").alias("m"),
            F.col("__m1").alias("m1")))).alias("__arr"),
        F.sum("__m").alias("__total"),
        F.sum("__m1").alias("__total1"),
        F.sum("__d1").cast("bigint").alias("o1"),
    )
    # at-risk counts via exclusive prefix sums over the sorted array
    arr_n = F.transform(
        F.col("__arr"),
        lambda x, i: F.struct(
            x["d"].alias("d"), x["d1"].alias("d1"),
            (F.col("__total") - F.aggregate(
                F.slice(F.col("__arr"), F.lit(1), i),
                F.lit(0).cast("bigint"),
                lambda acc, y: acc + y["m"])).alias("n"),
            (F.col("__total1") - F.aggregate(
                F.slice(F.col("__arr"), F.lit(1), i),
                F.lit(0).cast("bigint"),
                lambda acc, y: acc + y["m1"])).alias("n1")))
    share = lambda x: x["n1"].cast("double") / x["n"].cast("double")  # noqa: E731
    e1_term = lambda x: x["d"].cast("double") * share(x)  # noqa: E731
    v_term = lambda x: F.when(  # noqa: E731
        x["n"] > 1,
        x["d"].cast("double") * share(x) * (F.lit(1.0) - share(x))
        * (x["n"] - x["d"]).cast("double") / (x["n"] - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    b = a.select(
        "o1",
        F.aggregate(arr_n, F.lit(0.0),
                    lambda acc, x: acc + F.when(x["d"] > 0, e1_term(x))
                    .otherwise(F.lit(0.0))).alias("e1"),
        F.aggregate(arr_n, F.lit(0.0),
                    lambda acc, x: acc + F.when(x["d"] > 0, v_term(x))
                    .otherwise(F.lit(0.0))).alias("v"),
    )
    z = F.when(F.col("v") > 0.0,
               (F.col("o1").cast("double") - F.col("e1"))
               / F.sqrt(F.col("v")))
    return b.select("o1", "e1", "v", z.alias("z"),
                    (z * z).alias("chi2"))


def logrank_test_sql(
    subjects_sql: str,
    duration_expr: str = "duration",
    event_expr: str = "event",
    group_expr: str = "grp",
) -> str:
    """DuckDB mirror of :func:`logrank_test` — identical integer risk
    sets and the same left-folded fixed-parenthesization term chains."""
    return f"""
    WITH subj AS ({subjects_sql}),
    g AS (
        SELECT CAST({duration_expr} AS BIGINT) AS t,
               CAST(SUM(CAST({event_expr} AS BIGINT)) AS BIGINT) AS d,
               CAST(SUM(CAST({event_expr} AS BIGINT)
                        * CAST({group_expr} AS BIGINT)) AS BIGINT) AS d1,
               CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(CAST({group_expr} AS BIGINT)) AS BIGINT) AS m1
        FROM subj GROUP BY 1
    ),
    a AS (
        SELECT list_sort(list({{'t': t, 'd': d, 'd1': d1,
                                'm': m, 'm1': m1}})) AS arr,
               CAST(SUM(m) AS BIGINT) AS total,
               CAST(SUM(m1) AS BIGINT) AS total1,
               CAST(SUM(d1) AS BIGINT) AS o1
        FROM g
    ),
    b AS (
        SELECT o1,
               list_transform(arr, (x, i) -> {{
                   'd': x.d, 'd1': x.d1,
                   'n': total - list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(arr[1:i-1], y -> y.m)),
                       (p, q) -> p + q),
                   'n1': total1 - list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(arr[1:i-1], y -> y.m1)),
                       (p, q) -> p + q)}}) AS arr2
        FROM a
    ),
    c AS (
        SELECT o1,
               list_reduce(list_prepend(0.0, list_transform(arr2,
                   x -> CASE WHEN x.d > 0 THEN
                       CAST(x.d AS DOUBLE)
                       * (CAST(x.n1 AS DOUBLE) / CAST(x.n AS DOUBLE))
                   ELSE 0.0 END)), (p, q) -> p + q) AS e1,
               list_reduce(list_prepend(0.0, list_transform(arr2,
                   x -> CASE WHEN x.d > 0 AND x.n > 1 THEN
                       CAST(x.d AS DOUBLE)
                       * (CAST(x.n1 AS DOUBLE) / CAST(x.n AS DOUBLE))
                       * (1.0 - CAST(x.n1 AS DOUBLE) / CAST(x.n AS DOUBLE))
                       * CAST(x.n - x.d AS DOUBLE)
                       / CAST(x.n - 1 AS DOUBLE)
                   ELSE 0.0 END)), (p, q) -> p + q) AS v
        FROM b
    )
    SELECT o1, e1, v,
           CASE WHEN v > 0.0
                THEN (CAST(o1 AS DOUBLE) - e1) / sqrt(v) END AS z,
           CASE WHEN v > 0.0
                THEN ((CAST(o1 AS DOUBLE) - e1) / sqrt(v))
                     * ((CAST(o1 AS DOUBLE) - e1) / sqrt(v)) END AS chi2
    FROM c
    """


# ---------------------------------------------------------------------------
# Robust location: trimmed and winsorized means
# ---------------------------------------------------------------------------

def trimmed_mean(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    trim_permille: int = 50,
    nbuckets: int = 8192,
) -> DataFrame:
    """TRIMMED and WINSORIZED means per group (Tukey's robust location
    estimates): drop — or clamp to the cut values — the lowest and
    highest ``trim_permille``/1000 of ROWS and average the rest; the
    outlier-resistant mean a corpus with a heavy length/score tail
    actually wants.

    Exactness: over the DISTINCT-VALUE relation (integer ``value_col``)
    each value's kept multiplicity is interval arithmetic on exact
    integer cumulative counts — ``kept = max(0, min(below+cnt, n−c) −
    max(below, c))`` with cut ``c = ⌊n·t/1000⌋`` — so trimmed sum,
    winsorized sum (kept sum + c·v_lo + c·v_hi, where v_lo/v_hi are the
    clamp values at the cut ranks), and counts are all exact integers;
    each mean is ONE division.  Scale: cumulative-below uses the
    ``cum_below`` bucket decomposition — no per-group global sort at
    any scale.  Degenerate groups (everything trimmed) emit NULL
    trimmed/winsorized means.

    Output: ``keys…, n, mean, trimmed_mean, winsor_mean``.
    """
    df, gkeys = _with_group(df, keys)
    d = (
        df.select(*gkeys, F.col(value_col).cast("bigint").alias("__v"))
        .groupBy(*gkeys, "__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    c = cum_below(d, gkeys, "__v", ["__c"], nbuckets=nbuckets)
    tot = d.groupBy(*gkeys).agg(
        F.sum("__c").cast("bigint").alias("__n"),
        F.sum((F.col("__v") * F.col("__c")).cast("decimal(38,0)"))
        .alias("__s"))
    cut = (F.col("__n") * int(trim_permille) / F.lit(1000)).cast("bigint")
    j = c.join(tot, gkeys).withColumn("__cut", cut)
    lo, hi_excl = F.col("__cut"), F.col("__n") - F.col("__cut")
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("below___c") + F.col("__c"), hi_excl)
        - F.greatest(F.col("below___c"), lo))
    agg = j.groupBy(*gkeys).agg(
        F.first("__n").alias("n"),
        F.first("__s").alias("__s"),
        F.first("__cut").alias("__k"),
        F.sum(kept).cast("bigint").alias("__nk"),
        F.sum((F.col("__v") * kept).cast("decimal(38,0)")).alias("__sk"),
        # clamp values: smallest v whose interval reaches past the low
        # cut, largest v that starts before the high cut
        F.min(F.when(F.col("below___c") + F.col("__c") > lo,
                     F.col("__v"))).alias("__vlo"),
        F.max(F.when(F.col("below___c") < hi_excl,
                     F.col("__v"))).alias("__vhi"),
    )
    mean = F.col("__s").cast("double") / F.col("n").cast("double")
    tmean = F.when(
        F.col("__nk") > 0,
        F.col("__sk").cast("double") / F.col("__nk").cast("double"))
    wsum = (F.col("__sk").cast("decimal(38,0)")
            + (F.col("__vlo") * F.col("__k")).cast("decimal(38,0)")
            + (F.col("__vhi") * F.col("__k")).cast("decimal(38,0)"))
    wmean = F.when(
        F.col("__nk") > 0,
        wsum.cast("double") / F.col("n").cast("double"))
    return agg.select(*(list(keys) or []), "n", mean.alias("mean"),
                      tmean.alias("trimmed_mean"),
                      wmean.alias("winsor_mean"))


def trimmed_mean_sql(
    table: str,
    value_expr: str,
    keys: Sequence[str] = (),
    trim_permille: int = 50,
) -> str:
    """DuckDB mirror of :func:`trimmed_mean` — identical integer
    interval arithmetic (the oracle's cumulative window is integer
    sums, so window association order cannot matter)."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    part = f"PARTITION BY {kcols} " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    t = int(trim_permille)
    return f"""
    WITH d AS (
        SELECT {kpref}CAST({value_expr} AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {table} GROUP BY {kpref}v
    ),
    cb AS (
        SELECT {kpref}v, c,
               COALESCE(SUM(c) OVER ({part}ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
        FROM d
    ),
    tot AS (
        SELECT {kpref}CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(v * c) AS DECIMAL(38,0)) AS s
        FROM d {grp}
    ),
    j AS (
        SELECT cb.*, tot.n, tot.s, tot.n * {t} // 1000 AS k
        FROM cb {"JOIN tot USING (" + kcols + ")" if keys
                 else "CROSS JOIN tot"}
    ),
    a AS (
        SELECT {kpref}
               CAST(MAX(n) AS BIGINT) AS n, MAX(s) AS s,
               CAST(MAX(k) AS BIGINT) AS k,
               CAST(SUM(GREATEST(0, LEAST(below + c, n - k)
                                    - GREATEST(below, k))) AS BIGINT)
                   AS nk,
               CAST(SUM(CAST(v * GREATEST(0, LEAST(below + c, n - k)
                                    - GREATEST(below, k))
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sk,
               MIN(CASE WHEN below + c > k THEN v END) AS vlo,
               MAX(CASE WHEN below < n - k THEN v END) AS vhi
        FROM j {grp}
    )
    SELECT {kpref}n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           CASE WHEN nk > 0 THEN
               CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE) END AS trimmed_mean,
           CASE WHEN nk > 0 THEN
               CAST(sk + CAST(vlo * k AS DECIMAL(38,0))
                       + CAST(vhi * k AS DECIMAL(38,0)) AS DOUBLE)
               / CAST(n AS DOUBLE) END AS winsor_mean
    FROM a
    """


def restricted_mean_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    horizon: int,
    keys: Sequence[str] = (),
) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME (RMST; Royston & Parmar 2013 —
    public literature): the area under the Kaplan-Meier curve up to
    ``horizon`` — "expected event-free time within the window", the
    single-number survival summary that stays meaningful under heavy
    censoring (where the median may not exist) and the standard
    effect-size companion to :func:`logrank_test`.

    Shares :func:`kaplan_meier`'s step machinery (`_km_curve`) —
    survival values are the identical rounded-ln folds, so RMST is a
    pure post-fold over the bounded step array: the S=1 head interval
    ``min(τ, t_1)`` plus Σ_i S_i·(min(τ, t_{i+1}) − min(τ, t_i)) with
    INTEGER interval widths (censor-only steps contribute zero-change
    survival and exact-duplicate doubles, so folding every step equals
    folding event steps), summed LEFT-TO-RIGHT.  SQL mirror
    :func:`restricted_mean_survival_sql`.

    Output: ``keys…, horizon, rmst`` — one row per group.
    """
    df, gkeys = _with_group(df, keys)
    b = _km_curve(df, duration_col, event_col, gkeys)
    tau = F.lit(int(horizon)).cast("bigint")
    arr = F.col("__arr_s")
    nsteps = F.size(arr)
    head = F.least(tau, F.element_at(arr, 1)["t"]).cast("double")
    terms = F.transform(
        arr,
        lambda x, i: x["survival"] * (
            F.least(tau, F.when(i + 2 <= nsteps,
                                F.element_at(arr, (i + 2).cast("int"))["t"])
                    .otherwise(tau))
            - F.least(tau, x["t"])).cast("double"))
    rmst = F.aggregate(terms, head, lambda acc, x: acc + x)
    return b.select(*(list(keys) or []),
                    F.lit(int(horizon)).cast("bigint").alias("horizon"),
                    rmst.alias("rmst"))


def restricted_mean_survival_sql(
    subjects_sql: str,
    horizon: int,
    duration_expr: str = "duration",
    event_expr: str = "event",
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`restricted_mean_survival` — the
    kaplan_meier_sql survival expression verbatim, then the identical
    head + left-folded area chain."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    kout = kpref
    tau = int(horizon)
    return f"""
    WITH subj AS ({subjects_sql}),
    g AS (
        SELECT {kpref}CAST({duration_expr} AS BIGINT) AS t,
               CAST(SUM(CAST({event_expr} AS BIGINT)) AS BIGINT) AS d,
               CAST(SUM(1 - CAST({event_expr} AS BIGINT)) AS BIGINT) AS c
        FROM subj GROUP BY {kpref}t
    ),
    a AS (
        SELECT {kpref}
               list_sort(list({{'t': t, 'd': d, 'c': c}})) AS arr,
               CAST(SUM(d + c) AS BIGINT) AS total
        FROM g {grp}
    ),
    b AS (
        SELECT {kpref}
               list_transform(arr, (x, i) -> {{
                   't': x.t, 'd': x.d,
                   'n': total - list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(arr[1:i-1], y -> y.d + y.c)),
                       (p, q) -> p + q)}}) AS arr2
        FROM a
    ),
    s AS (
        SELECT {kpref}
               list_transform(arr2, (x, i) -> {{
                   't': x.t,
                   'survival': CASE WHEN list_reduce(
                           list_prepend(FALSE,
                               list_transform(arr2[1:i], y -> y.d = y.n)),
                           (p, q) -> p OR q)
                       THEN 0.0
                       ELSE round(exp(list_reduce(
                           list_prepend(0.0,
                               list_transform(arr2[1:i],
                                   y -> CASE WHEN y.d > 0 THEN
                                       round(ln(1.0 - CAST(y.d AS DOUBLE)
                                             / CAST(y.n AS DOUBLE)), 9)
                                       ELSE 0.0 END)),
                           (p, q) -> p + q)), 9) END}}) AS arr3
        FROM b
    )
    SELECT {kout}CAST({tau} AS BIGINT) AS horizon,
           list_reduce(
               list_prepend(
                   CAST(LEAST({tau}, arr3[1].t) AS DOUBLE),
                   list_transform(arr3, (x, i) ->
                       x.survival * CAST(
                           LEAST({tau}, CASE WHEN i + 1 <= len(arr3)
                                             THEN arr3[i + 1].t
                                             ELSE {tau} END)
                           - LEAST({tau}, x.t) AS DOUBLE))),
               (p, q) -> p + q) AS rmst
    FROM s
    """


# ---------------------------------------------------------------------------
# Wasserstein-1 distribution drift
# ---------------------------------------------------------------------------

def wasserstein1_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """EXACT Wasserstein-1 (earth mover's) distance between each
    group's distribution of an integer column and the WHOLE corpus's —
    the integral drift measure that complements the sup-norm (KS) and
    binned (PSI) rows: W1 = ∫|F_g − F_pool| dv, in the column's own
    units ("this source's length distribution sits ~312 chars of mass
    away from the corpus").

    Exactness: over the sorted distinct pooled values, every term is
    put on the COMMON DENOMINATOR n_g·N — ``|inc_g·N − inc_pool·n_g| ·
    (v_{i+1} − v_i)`` staged through DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) BEFORE the products, so the rank×count term never rides
    int64 (which wraps at N ≈ 3e9 rows) — exact while
    ``N² · max_gap < 10³⁸`` (N to ~1e14 even at gap 1e9) — and W1 is
    ONE final division by the double product n_g·N, so both engines
    agree bitwise with no accumulation-order discipline (integer sums
    are order-free).  SQL mirror :func:`wasserstein1_by_group_sql`.

    Scale: the working relation is groups × distinct pooled VALUES —
    bounded by the integer value DOMAIN (calendar-bucket or quantize
    unbounded measures upstream), never by corpus rows; the gap/lead
    window runs one task over that bounded relation (the strata-relation
    acceptance class).

    Output: ``group, n, w1`` (+ the pooled total as ``n_all``).
    """
    from pyspark.sql.window import Window as _W

    g = (
        df.select(F.col(group_col).cast("string").alias("__g"),
                  F.col(value_col).cast("bigint").alias("__v"))
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    pooled = g.groupBy("__v").agg(F.sum("__c").cast("bigint").alias("__cp"))
    # gap to the next pooled value: bounded value-domain relation, one
    # constant-key partition (the _with_group convention)
    wv = _W.partitionBy(F.lit(1)).orderBy("__v")
    pool2 = pooled.select(
        "__v", "__cp",
        (F.coalesce(F.lead("__v").over(wv), F.col("__v")) - F.col("__v"))
        .alias("__gap"),
        (F.sum("__cp").over(
            wv.rowsBetween(_W.unboundedPreceding, 0))).alias("__incp"),
        F.sum("__cp").over(
            wv.rowsBetween(_W.unboundedPreceding,
                           _W.unboundedFollowing)).alias("__nall"),
    )
    groups = g.groupBy("__g").agg(F.sum("__c").cast("bigint").alias("__n"))
    dense = (
        groups.crossJoin(pool2)
        .join(g, ["__g", "__v"], "left")
        .select("__g", "__n", "__v", "__gap", "__incp", "__nall",
                F.coalesce(F.col("__c"), F.lit(0)).alias("__c"))
    )
    wg = (_W.partitionBy("__g").orderBy("__v")
          .rowsBetween(_W.unboundedPreceding, 0))
    inc = dense.withColumn("__incg", F.sum("__c").over(wg))
    # stage the rank×count products through DECIMAL(38,0) BEFORE
    # multiplying: incg·n_all is an int64 product of two ≤N counts, which
    # wraps silently in Spark (and raises in DuckDB — engine divergence)
    # once N crosses ~3e9 rows; decimal staging keeps the term exact to
    # N ≈ 1e19 at the same one-division cost (r13 advice)
    term = (F.abs(F.col("__incg").cast("decimal(38,0)") * F.col("__nall")
                  - F.col("__incp").cast("decimal(38,0)") * F.col("__n"))
            * F.col("__gap")).cast("decimal(38,0)")
    out = inc.groupBy("__g").agg(
        F.first("__n").alias("n"),
        F.first("__nall").alias("n_all"),
        F.sum(term).alias("__num"))
    w1 = (F.col("__num").cast("double")
          / (F.col("n").cast("double") * F.col("n_all").cast("double")))
    return out.select(F.col("__g").alias("grp"), "n",
                      F.col("n_all").cast("bigint").alias("n_all"),
                      w1.alias("w1"))


def wasserstein1_by_group_sql(
    table: str,
    value_expr: str,
    group_expr: str,
) -> str:
    """DuckDB mirror of :func:`wasserstein1_by_group` — identical
    integer common-denominator terms and the single final division."""
    return f"""
    WITH g AS (
        SELECT CAST({group_expr} AS VARCHAR) AS grp,
               CAST({value_expr} AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    pooled AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS cp FROM g GROUP BY 1
    ),
    pool2 AS (
        SELECT v, cp,
               COALESCE(LEAD(v) OVER (ORDER BY v), v) - v AS gap,
               CAST(SUM(cp) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS incp,
               CAST(SUM(cp) OVER () AS BIGINT) AS n_all
        FROM pooled
    ),
    groups AS (
        SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY 1
    ),
    dense AS (
        SELECT gr.grp, gr.n, p.v, p.gap, p.incp, p.n_all,
               COALESCE(g.c, 0) AS c
        FROM groups gr CROSS JOIN pool2 p
        LEFT JOIN g ON g.grp = gr.grp AND g.v = p.v
    ),
    inc AS (
        SELECT *, CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS incg
        FROM dense
    )
    SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(n_all) AS BIGINT) AS n_all,
           CAST(SUM(CAST(abs(CAST(incg AS HUGEINT) * n_all
                             - CAST(incp AS HUGEINT) * n) * gap
                         AS DECIMAL(38,0))) AS DOUBLE)
               / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(n_all) AS DOUBLE))
               AS w1
    FROM inc GROUP BY 1
    """


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """QUANTILE NORMALIZATION (Bolstad et al. 2003 — the cross-batch
    harmonization standard): remap each group's integer values onto the
    POOLED distribution so every group shares the corpus's marginal —
    the cross-source length/score harmonizer that removes per-source
    scale artifacts before mixing.

    Per DISTINCT (group, value): a row with value v in group g sits at
    inclusive rank ``inc_g(v)`` of n_g, and maps to the pooled value at
    rank ``ceil(inc_g(v)·N / n_g)`` — all EXACT integer arithmetic, so
    the mapping is a bounded (group × distinct-value) relation, never a
    per-row rank: tied rows map identically, and the rank lookup is a
    half-open interval join ``below_p < k ≤ inc_p`` against the pooled
    distinct relation (both sides bounded by the value DOMAIN — the
    wasserstein1 acceptance class).  SQL mirror
    :func:`quantile_normalize_sql`.

    Output: the per-(group, value) MAP ``grp, v, n_rows, v_norm`` —
    join it back to rows to materialize normalized columns; emitting
    the map keeps the gate relation bounded.
    """
    g = (
        df.select(F.col(group_col).cast("string").alias("grp"),
                  F.col(value_col).cast("bigint").alias("v"))
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    c = cum_below(g, ["grp"], "v", ["n_rows"])
    tot = g.groupBy("grp").agg(F.sum("n_rows").cast("bigint").alias("n_g"))
    pooled = g.groupBy("v").agg(
        F.sum("n_rows").cast("bigint").alias("cp"))
    pc = cum_below(pooled.withColumn("__g", F.lit(1)), ["__g"], "v",
                   ["cp"]).select(
        F.col("v").alias("pv"), F.col("cp").alias("pc"),
        F.col("below_cp").alias("pbelow"))
    nall = pooled.agg(F.sum("cp").cast("bigint").alias("n_all"))
    # ceil via INTEGER div (a double quotient loses exactness past the
    # 53-bit mantissa); inc·N must fit bigint — N < ~3e9 rows, beyond
    # which stage the product through decimal
    j = (c.join(tot, "grp").crossJoin(F.broadcast(nall))
         .withColumn("__inc", F.col("below_n_rows") + F.col("n_rows"))
         .withColumn(
             "__k",
             F.expr("(__inc * n_all + n_g - 1) div n_g")))
    out = j.join(
        pc,
        (F.col("pbelow") < F.col("__k"))
        & (F.col("__k") <= F.col("pbelow") + F.col("pc")))
    return out.select("grp", "v", "n_rows", F.col("pv").alias("v_norm"))


def quantile_normalize_sql(
    table: str,
    value_expr: str,
    group_expr: str,
) -> str:
    """DuckDB mirror of :func:`quantile_normalize` — identical integer
    ranks and the same half-open interval lookup."""
    return f"""
    WITH g AS (
        SELECT CAST({group_expr} AS VARCHAR) AS grp,
               CAST({value_expr} AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM {table} GROUP BY 1, 2
    ),
    c AS (
        SELECT grp, v, n_rows,
               COALESCE(SUM(n_rows) OVER (PARTITION BY grp ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
        FROM g
    ),
    tot AS (SELECT grp, CAST(SUM(n_rows) AS BIGINT) AS n_g
            FROM g GROUP BY 1),
    pooled AS (SELECT v, CAST(SUM(n_rows) AS BIGINT) AS cp
               FROM g GROUP BY 1),
    pc AS (
        SELECT v AS pv, cp,
               COALESCE(SUM(cp) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS pbelow
        FROM pooled
    ),
    nall AS (SELECT CAST(SUM(cp) AS BIGINT) AS n_all FROM pooled),
    j AS (
        SELECT c.grp, c.v, c.n_rows,
               (c.below + c.n_rows) AS inc, tot.n_g, nall.n_all,
               ((c.below + c.n_rows) * nall.n_all + tot.n_g - 1)
                   // tot.n_g AS k
        FROM c JOIN tot USING (grp) CROSS JOIN nall
    )
    SELECT j.grp, j.v, j.n_rows, pc.pv AS v_norm
    FROM j JOIN pc ON pc.pbelow < j.k AND j.k <= pc.pbelow + pc.cp
    """


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """BROWN-FORSYTHE variance-homogeneity test (Brown & Forsythe 1974
    — the median-centered Levene): one-way ANOVA on |x − median_g|,
    the robust "are the group SPREADS equal?" screen that pairs with
    :func:`anova_f`'s mean test (whose F assumes it).

    The center is the TYPE-1 (lower) median — the ⌈n_g/2⌉-th order
    statistic, a rank selection over the distinct-value relation via
    ``cum_below`` — so every deviation |x − med_g| stays an exact
    INTEGER and the whole statistic rides :func:`anova_f`'s
    fixed-order machinery unchanged (interpolated medians would make
    deviations half-integral and engine-divergent).  SQL mirror
    :func:`brown_forsythe_sql`.

    Output: one row ``(k, n, ssb, ssw, f)`` — f is the W statistic.
    """
    d = df.select(F.col(group_col).cast("string").alias("__bfg"),
                  F.col(value_col).cast("bigint").alias("__v"))
    cell = d.groupBy("__bfg", "__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"))
    cb = cum_below(cell, ["__bfg"], "__v", ["__c"])
    tot = cell.groupBy("__bfg").agg(
        F.sum("__c").cast("bigint").alias("__n"))
    half = F.expr("(__n + 1) div 2")   # ceil(n/2)
    med = (cb.join(tot, "__bfg")
           .groupBy("__bfg")
           .agg(F.min(F.when(
               F.col("below___c") + F.col("__c") >= half,
               F.col("__v"))).alias("__med")))
    dev = (d.join(med, "__bfg")
           .select(F.col("__bfg"),
                   F.abs(F.col("__v") - F.col("__med")).alias("__dev")))
    return anova_f(dev, "__dev", "__bfg")


def brown_forsythe_sql(table: str, value_expr: str, group_expr: str) -> str:
    """DuckDB mirror of :func:`brown_forsythe` — the same type-1
    median rank selection feeding the anova_f mirror."""
    dev = f"""(
    WITH d AS (
        SELECT CAST({group_expr} AS VARCHAR) AS bfg,
               CAST({value_expr} AS BIGINT) AS v
        FROM {table}
    ),
    cell AS (
        SELECT bfg, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM d GROUP BY 1, 2
    ),
    cb AS (
        SELECT bfg, v, c,
               COALESCE(SUM(c) OVER (PARTITION BY bfg ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
        FROM cell
    ),
    tot AS (SELECT bfg, CAST(SUM(c) AS BIGINT) AS n FROM cell GROUP BY 1),
    med AS (
        SELECT bfg, MIN(CASE WHEN below + c >= (n + 1) // 2 THEN v END)
               AS med
        FROM cb JOIN tot USING (bfg) GROUP BY 1
    )
    SELECT d.bfg, abs(d.v - med.med) AS dev
    FROM d JOIN med USING (bfg)
    )"""
    return anova_f_sql(dev, "dev", "bfg")


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """KRUSKAL-WALLIS H (Kruskal & Wallis 1952): the k-sample RANK test
    — does any group's distribution stochastically dominate? — the
    nonparametric completion of the family (:func:`mannwhitney_z` is
    its k = 2 case, :func:`anova_f` its parametric twin).

    All-integer construction on the distinct (group, value) CELL
    relation — never per-row ranks: pooled tie-averaged DOUBLED ranks
    ``r2_v = 2·below_v + t_v + 1`` (the avg_rank2 identity), per-group
    rank sums ``R2_g = Σ c_gv·r2_v`` DECIMAL-staged, tie mass
    ``T3 = Σ (t³ − t)`` likewise; then
    ``H = 12·Σ R2_g²/(4 n_g) / (n(n+1)) − 3(n+1)`` with the group
    terms folded LEFT-TO-RIGHT over the group-sorted bounded list (the
    anova_f discipline) and the tie correction
    ``H' = H / (1 − T3/(n³−n))`` as one mirrored double chain.
    Degenerate inputs (k < 2 or all values tied) emit NULL.

    Output: one row ``(k, n, h, h_corrected)``.
    """
    cell = (
        df.select(F.col(group_col).cast("string").alias("__kwg"),
                  F.col(value_col).cast("bigint").alias("__v"))
        .groupBy("__kwg", "__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    pooled = cell.groupBy("__v").agg(
        F.sum("__c").cast("bigint").alias("__t"))
    pc = cum_below(pooled.withColumn("__g", F.lit(1)), ["__g"], "__v",
                   ["__t"]).select(
        "__v",
        (F.lit(2) * F.col("below___t") + F.col("__t") + F.lit(1))
        .cast("bigint").alias("__r2"),
        "__t")
    grp = (cell.join(pc.select("__v", "__r2"), "__v")
           .groupBy("__kwg")
           .agg(F.sum("__c").cast("bigint").alias("__n"),
                F.sum((F.col("__c") * F.col("__r2"))
                      .cast("decimal(38,0)")).alias("__R2")))
    a = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(
                F.col("__kwg").alias("g"),
                (F.col("__R2").cast("double") * F.col("__R2").cast("double")
                 / (F.lit(4.0) * F.col("__n").cast("double")))
                .alias("t")))),
            F.lit(0.0), lambda acc, x: acc + x["t"]).alias("__S"),
    )
    t3 = pooled.agg(F.sum(
        (F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .cast("decimal(38,0)")).alias("__T3"),
        F.count(F.lit(1)).cast("bigint").alias("__nvals"))
    nd = F.col("n").cast("double")
    h = (F.lit(12.0) * F.col("__S") / (nd * (nd + F.lit(1.0)))
         - F.lit(3.0) * (nd + F.lit(1.0)))
    n3 = (F.col("n").cast("decimal(38,0)") * F.col("n") * F.col("n")
          - F.col("n"))
    factor = F.lit(1.0) - F.col("__T3").cast("double") / n3.cast("double")
    out = a.crossJoin(F.broadcast(t3)).select(
        "k", "n",
        F.when(F.col("k") > 1, h).alias("h"),
        F.when((F.col("k") > 1) & (F.col("__nvals") > 1),
               h / factor).alias("h_corrected"))
    return out


def kruskal_wallis_sql(table: str, value_expr: str, group_expr: str) -> str:
    """DuckDB mirror of :func:`kruskal_wallis` — identical integer rank
    sums, group-sorted left fold, and final double chains."""
    return f"""
    WITH cell AS (
        SELECT CAST({group_expr} AS VARCHAR) AS g,
               CAST({value_expr} AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    pooled AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cell GROUP BY 1
    ),
    pc AS (
        SELECT v,
               CAST(2 * COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS BIGINT) AS r2
        FROM pooled
    ),
    grp AS (
        SELECT cell.g, CAST(SUM(c) AS BIGINT) AS n_g,
               CAST(SUM(CAST(c * r2 AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS R2
        FROM cell JOIN pc USING (v) GROUP BY 1
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               list_reduce(
                   list_prepend(0.0,
                       list_transform(list_sort(list({{'g': g,
                           't': CAST(R2 AS DOUBLE) * CAST(R2 AS DOUBLE)
                                / (4.0 * CAST(n_g AS DOUBLE))}})),
                           x -> x.t)),
                   (p, q) -> p + q) AS S
        FROM grp
    ),
    t3 AS (
        SELECT CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS T3,
               CAST(COUNT(*) AS BIGINT) AS nvals
        FROM pooled
    )
    SELECT k, n,
           CASE WHEN k > 1 THEN
               12.0 * S / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
               - 3.0 * (CAST(n AS DOUBLE) + 1.0) END AS h,
           CASE WHEN k > 1 AND nvals > 1 THEN
               (12.0 * S / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                - 3.0 * (CAST(n AS DOUBLE) + 1.0))
               / (1.0 - CAST(T3 AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(38,0)) * n * n - n AS DOUBLE))
           END AS h_corrected
    FROM a CROSS JOIN t3
    """


def welch_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """WELCH'S two-sample t (Welch 1947): difference of means under
    UNEQUAL variances — the default two-group mean test (Student's
    equal-variance t is the special case nobody should assume), filling
    the gap between :func:`two_proportion_ztest` (proportions),
    :func:`mannwhitney_z` (ranks) and :func:`anova_f` (k groups).

    ``group_col`` must be 0/1.  Exact integer moments per group (n, Σx,
    DECIMAL-staged Σx²); mean, variance, t, and the Welch-Satterthwaite
    df are one fixed-parenthesization double chain each, mirrored
    term-for-term by :func:`welch_t_sql`.  Degenerate inputs (either
    group with n < 2, missing group, or zero pooled standard error)
    emit NULL t/df.

    Output: one row ``(n0, n1, mean0, mean1, t, df)``.
    """
    g = (
        df.select(F.col(group_col).cast("bigint").alias("__wg"),
                  F.col(value_col).cast("bigint").alias("__x"))
        .groupBy("__wg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"),
             F.sum("__x").cast("decimal(38,0)").alias("__s"),
             F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,0)"))
             .alias("__q"))
    )
    def side(i):
        return [F.max(F.when(F.col("__wg") == i, F.col(c)))
                .alias(f"{c}_{i}") for c in ("__n", "__s", "__q")]
    a = g.agg(*side(0), *side(1))
    def stats(i):
        n = F.col(f"__n_{i}").cast("double")
        s = F.col(f"__s_{i}").cast("double")
        q = F.col(f"__q_{i}").cast("double")
        mean = s / n
        var = (q - s * s / n) / (n - F.lit(1.0))
        return n, mean, var
    n0, m0, v0 = stats(0)
    n1, m1, v1 = stats(1)
    se2 = v1 / n1 + v0 / n0
    t = (m1 - m0) / F.sqrt(se2)
    dof = (se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - F.lit(1.0))
                         + (v0 / n0) * (v0 / n0) / (n0 - F.lit(1.0)))
    ok = (F.col("__n_0") > 1) & (F.col("__n_1") > 1) & (se2 > 0.0)
    return a.select(
        F.col("__n_0").alias("n0"), F.col("__n_1").alias("n1"),
        m0.alias("mean0"), m1.alias("mean1"),
        F.when(ok, t).alias("t"), F.when(ok, dof).alias("df"))


def welch_t_sql(table: str, value_expr: str, group_expr: str) -> str:
    """DuckDB mirror of :func:`welch_t` — identical moments and double
    chains."""
    return f"""
    WITH g AS (
        SELECT CAST({group_expr} AS BIGINT) AS wg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS DECIMAL(38,0))
                   AS s,
               SUM(CAST(CAST({value_expr} AS BIGINT)
                        * CAST({value_expr} AS BIGINT)
                        AS DECIMAL(38,0))) AS q
        FROM {table} GROUP BY 1
    ),
    a AS (
        SELECT MAX(CASE WHEN wg = 0 THEN n END) AS n0,
               MAX(CASE WHEN wg = 0 THEN s END) AS s0,
               MAX(CASE WHEN wg = 0 THEN q END) AS q0,
               MAX(CASE WHEN wg = 1 THEN n END) AS n1,
               MAX(CASE WHEN wg = 1 THEN s END) AS s1,
               MAX(CASE WHEN wg = 1 THEN q END) AS q1
        FROM g
    ),
    b AS (
        SELECT n0, n1,
               CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
               (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)
                    * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                   / (CAST(n0 AS DOUBLE) - 1.0) AS v0,
               (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) - 1.0) AS v1
        FROM a
    )
    SELECT n0, n1, mean0, mean1,
           CASE WHEN n0 > 1 AND n1 > 1
                     AND v1 / CAST(n1 AS DOUBLE)
                         + v0 / CAST(n0 AS DOUBLE) > 0.0 THEN
               (mean1 - mean0)
               / sqrt(v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE))
           END AS t,
           CASE WHEN n0 > 1 AND n1 > 1
                     AND v1 / CAST(n1 AS DOUBLE)
                         + v0 / CAST(n0 AS DOUBLE) > 0.0 THEN
               ((v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE))
                * (v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE)))
               / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) - 1.0)
                  + (v0 / CAST(n0 AS DOUBLE)) * (v0 / CAST(n0 AS DOUBLE))
                      / (CAST(n0 AS DOUBLE) - 1.0))
           END AS df
    FROM b
    """


def cuped_adjusted_means(
    df: DataFrame,
    pre_col: str,
    post_col: str,
    cohort_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 —
    the standard experimentation trick): adjust each cohort's
    post-period mean by the pre-period covariate,
    ``mean_adj_g = Ȳ_g − θ·(X̄_g − X̄)`` with
    ``θ = cov(X,Y)/var(X)`` fitted on the POOLED units — removing
    pre-existing between-unit variance so an A/B readout needs fewer
    units for the same power.

    Exactness: θ's numerator and denominator are the exact integer
    identities ``n·Σxy − Σx·Σy`` and ``n·Σx² − (Σx)²``
    (DECIMAL(38,0)-staged); every mean is an exact-sum division; the
    adjustment and the variance-reduction factor ``1 − ρ²`` are fixed
    double chains — SQL mirror :func:`cuped_adjusted_means_sql`.
    Integer-valued metric columns required (pre-scale money to cents).
    Degenerate var(X) = 0 emits θ = NULL and mean_adj = the raw mean.

    Output: one row per cohort ``(cohort, n, mean_post, mean_adj,
    theta, var_reduction)`` (θ and the reduction are pooled — repeated
    per row for a flat relation).
    """
    d = df.select(F.col(cohort_col).cast("string").alias("__ch"),
                  F.col(pre_col).cast("bigint").alias("__x"),
                  F.col(post_col).cast("bigint").alias("__y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pooled = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(dec(F.col("__x"))).alias("__sx"),
        F.sum(dec(F.col("__y"))).alias("__sy"),
        F.sum(dec(F.col("__x") * F.col("__x"))).alias("__sxx"),
        F.sum(dec(F.col("__y") * F.col("__y"))).alias("__syy"),
        F.sum(dec(F.col("__x") * F.col("__y"))).alias("__sxy"),
    )
    n = F.col("__n").cast("decimal(38,0)")
    cov_num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    varx_num = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    vary_num = (n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    theta = F.when(varx_num > 0,
                   cov_num.cast("double") / varx_num.cast("double"))
    rho2 = F.when(
        (varx_num > 0) & (vary_num > 0),
        (cov_num.cast("double") * cov_num.cast("double"))
        / (varx_num.cast("double") * vary_num.cast("double")))
    mean_x_all = (F.col("__sx").cast("double")
                  / F.col("__n").cast("double"))
    p = pooled.select(
        theta.alias("theta"),
        (F.lit(1.0) - F.coalesce(rho2, F.lit(0.0)))
        .alias("var_reduction"),
        mean_x_all.alias("__mxall"))
    g = d.groupBy("__ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("__y")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("mean_post"),
        (F.sum(F.col("__x")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("__mx"))
    out = g.crossJoin(F.broadcast(p)).select(
        F.col("__ch").alias("cohort"), "n", "mean_post",
        F.when(F.col("theta").isNotNull(),
               F.col("mean_post") - F.col("theta")
               * (F.col("__mx") - F.col("__mxall")))
        .otherwise(F.col("mean_post")).alias("mean_adj"),
        "theta", "var_reduction")
    return out


def cuped_adjusted_means_sql(
    table: str,
    pre_expr: str,
    post_expr: str,
    cohort_expr: str,
) -> str:
    """DuckDB mirror of :func:`cuped_adjusted_means` — identical integer
    moment identities and double chains."""
    return f"""
    WITH d AS (
        SELECT CAST({cohort_expr} AS VARCHAR) AS ch,
               CAST({pre_expr} AS BIGINT) AS x,
               CAST({post_expr} AS BIGINT) AS y
        FROM {table}
    ),
    pooled AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS sxy,
               CAST(COUNT(*) AS BIGINT) AS n_b
        FROM d
    ),
    p AS (
        SELECT CASE WHEN n * sxx - sx * sx > 0 THEN
                   CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
               1.0 - COALESCE(CASE WHEN n * sxx - sx * sx > 0
                                        AND n * syy - sy * sy > 0 THEN
                   (CAST(n * sxy - sx * sy AS DOUBLE)
                    * CAST(n * sxy - sx * sy AS DOUBLE))
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) END, 0.0)
                   AS var_reduction,
               CAST(sx AS DOUBLE) / CAST(n_b AS DOUBLE) AS mxall
        FROM pooled
    ),
    g AS (
        SELECT ch, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS mean_post,
               CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mx
        FROM d GROUP BY 1
    )
    SELECT ch AS cohort, n, mean_post,
           CASE WHEN theta IS NOT NULL
                THEN mean_post - theta * (mx - mxall)
                ELSE mean_post END AS mean_adj,
           theta, var_reduction
    FROM g CROSS JOIN p
    """


def diff_in_diff(
    df: DataFrame,
    pre_col: str,
    post_col: str,
    cohort_col: str,
) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES (the panel causal-inference baseline):
    ``DiD = (post̄₁ − prē₁) − (post̄₀ − prē₀)`` over one row per unit
    with integer pre/post metrics and a 0/1 cohort — the
    parallel-trends estimate of the treatment effect that a raw
    post-period comparison confounds with pre-existing differences.
    All four cell means are exact-integer-sum divisions; DiD is one
    fixed double chain.  SQL mirror :func:`diff_in_diff_sql`.  A
    missing cohort emits NULL did.

    Output: one row ``(n0, n1, pre0, pre1, post0, post1, did)``.
    """
    d = df.select(F.col(cohort_col).cast("bigint").alias("__ch"),
                  F.col(pre_col).cast("bigint").alias("__x"),
                  F.col(post_col).cast("bigint").alias("__y"))
    def cell(i, col):
        return (F.sum(F.when(F.col("__ch") == i, F.col(col)))
                .cast("decimal(38,0)").cast("double")
                / F.sum(F.when(F.col("__ch") == i, 1))
                .cast("double"))
    a = d.agg(
        F.sum(F.when(F.col("__ch") == 0, 1)).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("__ch") == 1, 1)).cast("bigint").alias("n1"),
        cell(0, "__x").alias("pre0"), cell(1, "__x").alias("pre1"),
        cell(0, "__y").alias("post0"), cell(1, "__y").alias("post1"))
    did = ((F.col("post1") - F.col("pre1"))
           - (F.col("post0") - F.col("pre0")))
    return a.select("n0", "n1", "pre0", "pre1", "post0", "post1",
                    F.when(F.col("n0").isNotNull()
                           & F.col("n1").isNotNull(), did).alias("did"))


def diff_in_diff_sql(
    table: str,
    pre_expr: str,
    post_expr: str,
    cohort_expr: str,
) -> str:
    """DuckDB mirror of :func:`diff_in_diff`."""
    return f"""
    WITH d AS (
        SELECT CAST({cohort_expr} AS BIGINT) AS ch,
               CAST({pre_expr} AS BIGINT) AS x,
               CAST({post_expr} AS BIGINT) AS y
        FROM {table}
    ),
    a AS (
        SELECT CAST(SUM(CASE WHEN ch = 0 THEN 1 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN ch = 1 THEN 1 END) AS BIGINT) AS n1,
               CAST(CAST(SUM(CASE WHEN ch = 0 THEN x END)
                         AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(SUM(CASE WHEN ch = 0 THEN 1 END) AS DOUBLE)
                   AS pre0,
               CAST(CAST(SUM(CASE WHEN ch = 1 THEN x END)
                         AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(SUM(CASE WHEN ch = 1 THEN 1 END) AS DOUBLE)
                   AS pre1,
               CAST(CAST(SUM(CASE WHEN ch = 0 THEN y END)
                         AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(SUM(CASE WHEN ch = 0 THEN 1 END) AS DOUBLE)
                   AS post0,
               CAST(CAST(SUM(CASE WHEN ch = 1 THEN y END)
                         AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(SUM(CASE WHEN ch = 1 THEN 1 END) AS DOUBLE)
                   AS post1
        FROM d
    )
    SELECT n0, n1, pre0, pre1, post0, post1,
           CASE WHEN n0 IS NOT NULL AND n1 IS NOT NULL THEN
               (post1 - pre1) - (post0 - pre0) END AS did
    FROM a
    """


# ---------------------------------------------------------------------------
# Normal p-values and Benjamini-Hochberg FDR
# ---------------------------------------------------------------------------

#: Abramowitz & Stegun 7.1.26 erfc coefficients (public literature);
#: |error| <= 1.5e-7 — the approximation is DOCUMENTED and, more
#: importantly here, a fixed Horner chain both engines evaluate
#: identically, so p-values stay bitwise-mirrorable.
_ERFC_P = 0.3275911
_ERFC_A = (0.254829592, -0.284496736, 1.421413741,
           -1.453152027, 1.061405429)
_SQRT1_2 = 0.7071067811865476  # 1/sqrt(2), fixed literal on both sides


def normal_p_two_sided(z: Column) -> Column:
    """Two-sided normal p-value ``p = erfc(|z|/√2)`` via the A&S
    7.1.26 rational approximation — a fixed Horner chain (no engine
    erf needed; neither engine ships one), rounded to 9 decimals after
    the exp (the post-transcendental discipline: JVM and libm exp can
    differ in the final ulp).  NULL z propagates."""
    x = F.abs(z) * F.lit(_SQRT1_2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERFC_P) * x)
    a1, a2, a3, a4, a5 = _ERFC_A
    poly = ((((F.lit(a5) * t + F.lit(a4)) * t + F.lit(a3)) * t
             + F.lit(a2)) * t + F.lit(a1)) * t
    # exp is a libm call — JVM and DuckDB can differ in the final ulp,
    # so the repo's post-transcendental 9-decimal rounding applies
    return F.round(poly * F.exp(-(x * x)), 9)


def normal_p_two_sided_sql(z_expr: str) -> str:
    """DuckDB text of :func:`normal_p_two_sided` — identical Horner
    chain; scientific-notation literals parse directly as DOUBLE (the
    benford DECIMAL-parse lesson)."""
    lit = lambda c: f"{c!r}e0"  # noqa: E731
    a1, a2, a3, a4, a5 = _ERFC_A
    x = f"(abs({z_expr}) * {lit(_SQRT1_2)})"
    t = f"(1.0e0 / (1.0e0 + {lit(_ERFC_P)} * {x}))"
    poly = (f"((((({lit(a5)} * {t} + {lit(a4)}) * {t} + {lit(a3)}) * {t}"
            f" + {lit(a2)}) * {t} + {lit(a1)}) * {t})")
    return f"round({poly} * exp(-({x} * {x})), 9)"


def bh_fdr(
    df: DataFrame,
    p_col: str,
    key_col: str,
    alpha_permille: int = 50,
) -> DataFrame:
    """BENJAMINI-HOCHBERG step-up FDR control (Benjamini & Hochberg
    1995) over a BOUNDED family of hypotheses (one row per key with a
    p-value): rank p's ascending, find k* = max{i : p_(i) ≤ i·α/m},
    reject ranks ≤ k* — the multiple-testing guard every per-source
    screening sweep needs before acting on its smallest p.

    NULL p's (degenerate tests) are excluded from the family (m counts
    only tested hypotheses).  The relation is bounded (keys = sources /
    buckets / features), so ranking is a sorted-array fold; the
    threshold compare ``p·m·1000 ≤ i·α`` uses the same double ops on
    both engines.  α in permille (integer).

    Output: ``key, p, rank, m, rejected`` for tested hypotheses.
    """
    a = int(alpha_permille)
    d = (df.select(F.col(key_col).alias("k"),
                   F.col(p_col).cast("double").alias("p"))
         .where(F.col("p").isNotNull()))
    g = d.groupBy().agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("p").alias("p"), F.col("k").alias("k")))).alias("arr"))
    m = F.size("arr").cast("bigint")
    kstar = F.aggregate(
        F.transform(F.col("arr"),
                    lambda x, i: F.when(
                        x["p"] * m.cast("double") * F.lit(1000.0)
                        <= (i + 1).cast("double") * F.lit(float(a)),
                        (i + 1).cast("bigint")).otherwise(F.lit(0)
                                                          .cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, v: F.greatest(acc, v))
    rows = g.select(
        m.alias("m"), kstar.alias("__kstar"),
        F.posexplode("arr").alias("__i", "__x"))
    return rows.select(
        F.col("__x.k").alias("key"), F.col("__x.p").alias("p"),
        (F.col("__i") + 1).cast("bigint").alias("rank"), "m",
        ((F.col("__i") + 1) <= F.col("__kstar")).alias("rejected"))


def bh_fdr_sql(
    hypotheses_sql: str,
    p_expr: str = "p",
    key_expr: str = "key",
    alpha_permille: int = 50,
) -> str:
    """DuckDB mirror of :func:`bh_fdr` over a hypotheses subquery."""
    a = int(alpha_permille)
    return f"""
    WITH h AS (
        SELECT {key_expr} AS k, CAST({p_expr} AS DOUBLE) AS p
        FROM ({hypotheses_sql}) WHERE {p_expr} IS NOT NULL
    ),
    g AS (SELECT list_sort(list({{'p': p, 'k': k}})) AS arr FROM h),
    s AS (
        SELECT CAST(len(arr) AS BIGINT) AS m,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(arr, (x, i) ->
                       CASE WHEN x.p * CAST(len(arr) AS DOUBLE) * 1000.0
                                 <= CAST(i AS DOUBLE) * {float(a)!r}e0
                            THEN CAST(i AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END)),
                   (p, q) -> GREATEST(p, q)) AS kstar,
               arr
        FROM g
    )
    SELECT u.x.k AS key, u.x.p AS p,
           CAST(u.i AS BIGINT) AS rank, s.m,
           u.i <= s.kstar AS rejected
    FROM s, LATERAL (SELECT unnest(arr) AS x,
                            unnest(range(1, len(arr) + 1)) AS i) u
    """


# ---------------------------------------------------------------------------
# Paired-classifier comparison, monotone trend, rank correlation (round 14)
# ---------------------------------------------------------------------------

def mcnemar_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """McNEMAR'S TEST (McNemar 1947) for PAIRED binary gates — "did
    switching quality filters change which documents pass?" evaluated
    on the discordant cells only: the correct comparison for two
    classifiers scored on the SAME corpus (a two-proportion z wrongly
    treats the samples as independent and throws away the pairing).

    ``a_col`` / ``b_col`` are 0/1 verdicts per row.  Counts are exact
    integers; the statistic is the Edwards continuity-corrected
    ``χ² = (|n10 − n01| − 1)² / (n10 + n01)`` — an integer numerator
    over an integer denominator, ONE division — and the p-value is
    ``P(χ²₁ > x) = erfc(√x/√2)`` via the shared
    :func:`normal_p_two_sided` Horner chain.  ``n10 + n01 = 0`` (no
    discordant pairs) emits NULL χ²/p.  Zero discordance in ONE
    direction is fine (the test degenerates to sign-test extremity).

    Output: one row ``(n, n10, n01, chi2, p)``; ``n10`` = a passes
    where b fails.  SQL mirror :func:`mcnemar_test_sql`.
    """
    a = F.col(a_col).cast("bigint")
    b = F.col(b_col).cast("bigint")
    g = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0))
        .cast("bigint").alias("n10"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0))
        .cast("bigint").alias("n01"))
    d = F.col("n10") + F.col("n01")
    num = F.abs(F.col("n10") - F.col("n01")) - F.lit(1)
    chi2 = F.when(
        d > 0,
        (num * num).cast("double") / d.cast("double"))
    return g.select(
        "n", "n10", "n01", chi2.alias("chi2"),
        normal_p_two_sided(F.sqrt(chi2)).alias("p"))


def mcnemar_test_sql(table: str, a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of :func:`mcnemar_test` — identical integer counts
    and the shared erfc chain."""
    chi2 = ("CASE WHEN n10 + n01 > 0 THEN "
            "CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)"
            " / CAST(n10 + n01 AS DOUBLE) END")
    return f"""
    WITH g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN CAST({a_expr} AS BIGINT) = 1
                              AND CAST({b_expr} AS BIGINT) = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN CAST({a_expr} AS BIGINT) = 0
                              AND CAST({b_expr} AS BIGINT) = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n01
        FROM {table}
    )
    SELECT n, n10, n01, {chi2} AS chi2,
           {normal_p_two_sided_sql(f'sqrt({chi2})')} AS p
    FROM g
    """


def mann_kendall(
    df: DataFrame,
    value_col: str,
    time_col: str,
    keys: "Sequence[str]" = (),
) -> DataFrame:
    """MANN-KENDALL monotone-trend test (Mann 1945, Kendall 1975) over
    a TIME-ORDERED series — "is daily ingest volume / quality drifting?"
    without assuming linearity or normality: S = Σ_{i<j} sign(x_j −
    x_i) over all time-point pairs, with the tie-corrected variance
    ``V = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18``.

    INPUT CONTRACT: one row per time point (pre-aggregate upstream —
    e.g. events → daily counts), ``time_col`` orderable, integer
    ``value_col``.  The pair relation is the BOUNDED T×T self-join
    (T = time buckets — calendar-bounded by construction, never corpus
    rows: the wasserstein bounded-domain acceptance class).  S and both
    variance terms are exact integers; z = (S ∓ 1)/√V (0 at S = 0) and
    the p-value ride the shared erfc chain.  n < 2 or V = 0 (all
    values tied) emit NULL z/p.

    ``keys`` runs one test PER GROUP (e.g. per source/event-type drift
    screening — feed the p column into :func:`bh_fdr` for multiplicity
    control); the pair join then carries the group key as an equi-key,
    so the bounded T×T blow-up stays per-group.

    Output: ``(keys…, n, s_stat, var_s, z, p)``.  SQL mirror
    :func:`mann_kendall_sql`.
    """
    df, gkeys = _with_group(df, keys)
    s = df.select(*gkeys, F.col(time_col).alias("__t"),
                  F.col(value_col).cast("bigint").alias("__x"))
    a, b = s.alias("a"), s.alias("b")
    cond = F.col("b.__t") > F.col("a.__t")
    for k in gkeys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    pair = (a.join(b, cond)
            .groupBy(*[F.col(f"a.{k}").alias(k) for k in gkeys])
            .agg(F.sum(F.signum(
                (F.col("b.__x") - F.col("a.__x")).cast("double"))
                .cast("bigint")).alias("s_stat")))
    base = s.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (s.groupBy(*gkeys, "__x")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy(*gkeys)
            .agg(F.sum(F.col("__c") * (F.col("__c") - 1)
                       * (2 * F.col("__c") + 5))
                 .cast("bigint").alias("__tt")))
    # left joins: a 1-point group has no pair rows (s_stat -> 0 below)
    j = base.join(pair, gkeys, "left").join(ties, gkeys, "left")
    n = F.col("n")
    var = ((n * (n - 1) * (2 * n + 5) - F.col("__tt")).cast("double")
           / F.lit(18.0))
    st = F.coalesce(F.col("s_stat"), F.lit(0)).cast("bigint")
    z = F.when(st > 0, (st - F.lit(1)).cast("double") / F.sqrt(var)) \
        .when(st < 0, (st + F.lit(1)).cast("double") / F.sqrt(var)) \
        .otherwise(F.lit(0.0))
    ok = (n > 1) & (var > 0.0)
    return j.select(
        *(list(keys) or []),
        "n", st.alias("s_stat"), var.alias("var_s"),
        F.when(ok, z).alias("z"),
        F.when(ok, normal_p_two_sided(z)).alias("p"))


def mann_kendall_sql(table: str, value_expr: str, time_expr: str,
                     keys: "Sequence[str]" = ()) -> str:
    """DuckDB mirror of :func:`mann_kendall` — identical integer S and
    tie terms, identical z chain; ``keys`` mirrors the per-group form."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    agrp = ", ".join(f"a.{k}" for k in keys)
    agrp_pref = f"{agrp}, " if keys else ""
    kjoin = " AND ".join(f"a.{k} = b.{k}" for k in keys)
    pair_on = f"b.t > a.t{' AND ' + kjoin if keys else ''}"
    jleft = (f"base LEFT JOIN pair USING ({kcols}) "
             f"LEFT JOIN ties USING ({kcols})" if keys
             else "base CROSS JOIN pair CROSS JOIN ties")
    grp = f"GROUP BY {kcols}" if keys else ""
    z = ("CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(v)"
         " WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(v)"
         " ELSE 0.0 END")
    return f"""
    WITH s AS (
        SELECT {kpref}{time_expr} AS t, CAST({value_expr} AS BIGINT) AS x
        FROM {table}
    ),
    pair AS (
        SELECT {agrp_pref}CAST(COALESCE(SUM(CAST(
                   sign(CAST(b.x - a.x AS DOUBLE)) AS BIGINT)), 0)
                   AS BIGINT) AS s_stat
        FROM s a JOIN s b ON {pair_on}
        {f'GROUP BY {agrp}' if keys else ''}
    ),
    base AS (SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS n FROM s {grp}),
    ties AS (
        SELECT {kpref}CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0)
                    AS BIGINT) AS tt
        FROM (SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS c
              FROM s GROUP BY {kpref}x)
        {grp}
    ),
    j AS (
        SELECT {kpref}n, CAST(COALESCE(s_stat, 0) AS BIGINT) AS s_stat,
               CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) / 18.0 AS v
        FROM {jleft}
    )
    SELECT {kpref}n, s_stat, v AS var_s,
           CASE WHEN n > 1 AND v > 0.0 THEN {z} END AS z,
           CASE WHEN n > 1 AND v > 0.0
                THEN {normal_p_two_sided_sql(f'({z})')} END AS p
    FROM j
    """


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """KENDALL'S τ-b rank correlation with tie correction (Kendall
    1945) between two integer columns — the rank-concordance
    complement of Spearman: concordant/discordant mass computed on the
    DISTINCT-CELL relation ``(x, y, count)``, so the O(pairs) work is
    O(cells²), bounded by the joint value DOMAIN (quantize unbounded
    measures upstream — the wasserstein bounded-domain contract),
    never corpus rows².

    ``C − D = Σ_{cell pairs, x₂>x₁} c₁·c₂·sign(y₂ − y₁)`` with the
    products DECIMAL(38,0)-staged (cell-count products pass int64 at
    ~3e9 rows); tie terms ``T_x = Σ n_x(n_x−1)/2`` (same for y) are
    exact integers via the even-product-first division;
    ``τ_b = (C−D) / √((N₀−T_x)(N₀−T_y))`` is a fixed double chain.
    Degenerate (all x tied or all y tied) emits NULL τ.

    Output: one row ``(n, n_cells, concordant, discordant, tau_b)``
    (C/D as exact-integer-valued DOUBLEs — exact to 2⁵³).  SQL mirror
    :func:`kendall_tau_b_sql`.
    """
    cells = (df.select(F.col(x_col).cast("bigint").alias("__x"),
                       F.col(y_col).cast("bigint").alias("__y"))
             .groupBy("__x", "__y")
             .agg(F.count(F.lit(1)).cast("bigint").alias("__c")))
    a, b = cells.alias("a"), cells.alias("b")
    prod = (F.col("a.__c").cast("decimal(38,0)") * F.col("b.__c"))
    cd = (a.join(b, F.col("b.__x") > F.col("a.__x"))
          .agg(F.sum(F.when(F.col("b.__y") > F.col("a.__y"), prod)
                     .otherwise(F.lit(0).cast("decimal(38,0)")))
               .alias("__conc"),
               F.sum(F.when(F.col("b.__y") < F.col("a.__y"), prod)
                     .otherwise(F.lit(0).cast("decimal(38,0)")))
               .alias("__disc")))
    def tie_term(col):
        # n(n-1) is even -> DIV 2 exact before the decimal stage
        return (cells.groupBy(col)
                .agg(F.sum("__c").cast("bigint").alias("__nx"))
                .agg(F.sum((F.col("__nx") * (F.col("__nx") - 1) / 2)
                           .cast("bigint").cast("decimal(38,0)"))
                     .alias("__t")))
    tx = tie_term("__x").withColumnRenamed("__t", "__tx")
    ty = tie_term("__y").withColumnRenamed("__t", "__ty")
    base = cells.agg(F.sum("__c").cast("bigint").alias("n"),
                     F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    j = (base.crossJoin(F.broadcast(cd)).crossJoin(F.broadcast(tx))
         .crossJoin(F.broadcast(ty)))
    n0 = ((F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
          .cast("decimal(38,0)"))
    dx = (n0 - F.col("__tx")).cast("double")
    dy = (n0 - F.col("__ty")).cast("double")
    tau = F.when(
        (dx > 0.0) & (dy > 0.0),
        (F.col("__conc") - F.col("__disc")).cast("double")
        / F.sqrt(dx * dy))
    cz = F.coalesce(F.col("__conc"), F.lit(0).cast("decimal(38,0)"))
    dz = F.coalesce(F.col("__disc"), F.lit(0).cast("decimal(38,0)"))
    return j.select(
        "n", "n_cells",
        cz.cast("double").alias("concordant"),
        dz.cast("double").alias("discordant"),
        tau.alias("tau_b"))


def kendall_tau_b_sql(table: str, x_expr: str, y_expr: str) -> str:
    """DuckDB mirror of :func:`kendall_tau_b` — identical cell
    relation, HUGEINT-staged products, identical double chain."""
    return f"""
    WITH cells AS (
        SELECT CAST({x_expr} AS BIGINT) AS x, CAST({y_expr} AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    cd AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN b.y > a.y
                   THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0)
                   AS DECIMAL(38,0)) AS conc,
               CAST(COALESCE(SUM(CASE WHEN b.y < a.y
                   THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END), 0)
                   AS DECIMAL(38,0)) AS disc
        FROM cells a JOIN cells b ON b.x > a.x
    ),
    tx AS (
        SELECT CAST(COALESCE(SUM(nx * (nx - 1) // 2), 0) AS DECIMAL(38,0))
               AS t
        FROM (SELECT CAST(SUM(c) AS BIGINT) AS nx FROM cells GROUP BY x)
    ),
    ty AS (
        SELECT CAST(COALESCE(SUM(ny * (ny - 1) // 2), 0) AS DECIMAL(38,0))
               AS t
        FROM (SELECT CAST(SUM(c) AS BIGINT) AS ny FROM cells GROUP BY y)
    ),
    base AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM cells
    ),
    j AS (
        SELECT n, n_cells, conc, disc,
               CAST(CAST(n * (n - 1) // 2 AS DECIMAL(38,0)) - tx.t
                    AS DOUBLE) AS dx,
               CAST(CAST(n * (n - 1) // 2 AS DECIMAL(38,0)) - ty.t
                    AS DOUBLE) AS dy
        FROM base CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty
    )
    SELECT n, n_cells,
           CAST(conc AS DOUBLE) AS concordant,
           CAST(disc AS DOUBLE) AS discordant,
           CASE WHEN dx > 0.0 AND dy > 0.0 THEN
               CAST(conc - disc AS DOUBLE) / sqrt(dx * dy)
           END AS tau_b
    FROM j
    """


def theil_sen(
    df: DataFrame,
    value_col: str,
    time_col: str,
) -> DataFrame:
    """THEIL-SEN robust slope (Theil 1950, Sen 1968) — the estimator
    that pairs with :func:`mann_kendall`: MK answers "is there a
    monotone trend?", Theil-Sen answers "how steep?" with a 29%
    breakdown point (the median of pairwise slopes shrugs off outlier
    days a least-squares line chases).

    INPUT CONTRACT: one row per time point, integer ``time_col`` and
    ``value_col`` (pre-aggregate upstream); the pair relation is the
    BOUNDED T×T self-join (calendar-bounded — the wasserstein
    bounded-domain acceptance class).  Each slope is ONE exactly-
    rounded IEEE division of two integer differences; the median is an
    order statistic of the sorted bounded slope list (even count =
    the mean of the two middles, one fixed chain), so both engines
    agree bitwise.  Intercept = median of ``x_i − slope·t_i`` (same
    order-statistic rule).  n < 2 emits NULL slope/intercept.

    Output: one row ``(n, n_pairs, slope, intercept)``.  SQL mirror
    :func:`theil_sen_sql`.
    """
    s = df.select(F.col(time_col).cast("bigint").alias("__t"),
                  F.col(value_col).cast("bigint").alias("__x"))
    a, b = s.alias("a"), s.alias("b")
    sl = (a.join(b, F.col("b.__t") > F.col("a.__t"))
          .select(((F.col("b.__x") - F.col("a.__x")).cast("double")
                   / (F.col("b.__t") - F.col("a.__t")).cast("double"))
                  .alias("__s")))
    arr = sl.agg(F.array_sort(F.collect_list("__s")).alias("__arr"))

    def med(arr_col):
        m = F.size(arr_col).cast("bigint")
        lo = ((m + 1) / 2).cast("bigint").cast("int")
        hi = (m / 2 + 1).cast("bigint").cast("int")
        return F.when(
            m > 0,
            (F.element_at(arr_col, lo) + F.element_at(arr_col, hi))
            / F.lit(2.0))

    slope = med(F.col("__arr"))
    base = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = (base.crossJoin(F.broadcast(arr.select(slope.alias("slope"))))
         # n_pairs from n, not len(arr): DuckDB's list() over zero rows
         # is NULL where Spark's collect_list is [], so the arithmetic
         # form is the engine-portable one
         .withColumn("n_pairs",
                     (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")))
    resid = (s.crossJoin(F.broadcast(j.select("slope")))
             .select((F.col("__x").cast("double")
                      - F.col("slope") * F.col("__t").cast("double"))
                     .alias("__r"))
             .agg(F.array_sort(F.collect_list("__r")).alias("__rarr")))
    return (j.crossJoin(F.broadcast(resid))
            .select("n", "n_pairs",
                    F.when(F.col("n") > 1, F.col("slope")).alias("slope"),
                    F.when(F.col("n") > 1, med(F.col("__rarr")))
                    .alias("intercept")))


def theil_sen_sql(table: str, value_expr: str, time_expr: str) -> str:
    """DuckDB mirror of :func:`theil_sen` — identical slope divisions,
    identical order-statistic median rule."""
    def med(arr):
        return (f"CASE WHEN len({arr}) > 0 THEN "
                f"({arr}[CAST((len({arr}) + 1) // 2 AS BIGINT)]"
                f" + {arr}[CAST(len({arr}) // 2 + 1 AS BIGINT)]) / 2.0 END")
    return f"""
    WITH s AS (
        SELECT CAST({time_expr} AS BIGINT) AS t,
               CAST({value_expr} AS BIGINT) AS x
        FROM {table}
    ),
    sl AS (
        SELECT list_sort(list(CAST(b.x - a.x AS DOUBLE)
                              / CAST(b.t - a.t AS DOUBLE))) AS arr
        FROM s a JOIN s b ON b.t > a.t
    ),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    j AS (
        SELECT n, CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs,
               {med('arr')} AS slope
        FROM base CROSS JOIN sl
    ),
    r AS (
        SELECT list_sort(list(CAST(s.x AS DOUBLE)
                              - j.slope * CAST(s.t AS DOUBLE))) AS rarr
        FROM s CROSS JOIN j
    )
    SELECT n, n_pairs,
           CASE WHEN n > 1 THEN slope END AS slope,
           CASE WHEN n > 1 THEN {med('rarr')} END AS intercept
    FROM j CROSS JOIN r
    """


def cochran_armitage(
    df: DataFrame,
    success_col: str,
    score_col: str,
) -> DataFrame:
    """COCHRAN-ARMITAGE trend test (Cochran 1954, Armitage 1955): is a
    RATE trending across ORDERED buckets?  The categorical companion to
    :func:`mann_kendall` — "does English share rise with document
    length?", "does conversion fall across cohort deciles?" — strictly
    more powerful than chi² when the alternative is ordered.

    ``success_col`` is 0/1 per row; ``score_col`` is the integer bucket
    score (quantize upstream — the bounded-domain contract; the working
    relation is one row per distinct score).  With per-bucket exact
    integer moments (nᵢ, sᵢ) and scores wᵢ:

        z = (Σwᵢsᵢ − S·ΣwᵢNᵢ/N)
            / √( p̂(1−p̂) · (Σwᵢ²Nᵢ − (ΣwᵢNᵢ)²/N) )

    with S = Σsᵢ, p̂ = S/N.  Every Σ is an exact DECIMAL(38,0) integer
    (w·s and w²·N products staged before summing); z is one fixed
    double chain and p rides the shared erfc chain.  Degenerate inputs
    (all-success/all-failure pools, or a single score) emit NULL z/p.

    Output: one row ``(n, successes, n_scores, z, p)``.  SQL mirror
    :func:`cochran_armitage_sql`.
    """
    g = (df.select(F.col(score_col).cast("bigint").alias("__w"),
                   F.col(success_col).cast("bigint").alias("__y"))
         .groupBy("__w")
         .agg(F.count(F.lit(1)).cast("bigint").alias("__n"),
              F.sum("__y").cast("bigint").alias("__s")))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = g.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__s").cast("bigint").alias("successes"),
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.sum(dec(F.col("__w")) * F.col("__s")).alias("__ws"),
        F.sum(dec(F.col("__w")) * F.col("__n")).alias("__wn"),
        F.sum(dec(F.col("__w")) * F.col("__w") * F.col("__n"))
        .alias("__wwn"))
    n = F.col("n").cast("double")
    s = F.col("successes").cast("double")
    ws = F.col("__ws").cast("double")
    wn = F.col("__wn").cast("double")
    wwn = F.col("__wwn").cast("double")
    phat = s / n
    num = ws - s * wn / n
    den2 = phat * (F.lit(1.0) - phat) * (wwn - wn * wn / n)
    ok = ((F.col("successes") > 0) & (F.col("successes") < F.col("n"))
          & (F.col("n_scores") > 1) & (den2 > 0.0))
    z = num / F.sqrt(den2)
    return a.select(
        "n", "successes", "n_scores",
        F.when(ok, z).alias("z"),
        F.when(ok, normal_p_two_sided(z)).alias("p"))


def cochran_armitage_sql(table: str, success_expr: str,
                         score_expr: str) -> str:
    """DuckDB mirror of :func:`cochran_armitage` — identical staged
    integer sums and double chain."""
    return f"""
    WITH g AS (
        SELECT CAST({score_expr} AS BIGINT) AS w,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({success_expr} AS BIGINT)) AS BIGINT) AS s
        FROM {table} GROUP BY 1
    ),
    a AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS successes,
               CAST(COUNT(*) AS BIGINT) AS n_scores,
               SUM(CAST(w AS HUGEINT) * s) AS ws,
               SUM(CAST(w AS HUGEINT) * n) AS wn,
               SUM(CAST(w AS HUGEINT) * w * n) AS wwn
        FROM g
    ),
    b AS (
        SELECT n, successes, n_scores,
               CAST(ws AS DOUBLE)
                   - CAST(successes AS DOUBLE) * CAST(wn AS DOUBLE)
                     / CAST(n AS DOUBLE) AS num,
               (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(wwn AS DOUBLE)
                      - CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE)
                        / CAST(n AS DOUBLE)) AS den2
        FROM a
    )
    SELECT n, successes, n_scores,
           CASE WHEN successes > 0 AND successes < n AND n_scores > 1
                     AND den2 > 0.0 THEN num / sqrt(den2) END AS z,
           CASE WHEN successes > 0 AND successes < n AND n_scores > 1
                     AND den2 > 0.0
                THEN {normal_p_two_sided_sql('(num / sqrt(den2))')}
           END AS p
    FROM b
    """


def eb_shrunk_means(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """EMPIRICAL-BAYES shrinkage of per-group means (James & Stein 1961
    via the DerSimonian-Laird 1986 random-effects estimator — the
    standard method-of-moments form): small groups' noisy means pull
    toward the family consensus, weighted by how noisy they are — the
    right per-source quality/score table when sources differ 1000× in
    size (a 50-doc source's raw mean is mostly noise; ranking sources
    by raw means over-rewards small-sample flukes).

    Per group: exact integer moments → mean ``m_g`` and the variance of
    the mean ``v_g = s²_g/n_g``.  Family (groups with n ≥ 2, v > 0):
    fixed-effect weights ``w = 1/v``, heterogeneity
    ``Q = Σ w (m − μ_w)²``, between-group variance
    ``τ² = max(0, (Q − (k−1)) / (Σw − Σw²/Σw))``, consensus
    ``μ* = Σ m/(v+τ²) / Σ 1/(v+τ²)``, shrinkage ``B = v/(v+τ²)``,
    ``shrunk = B·μ* + (1−B)·m``.  Every Σ folds over the GROUP-SORTED
    bounded family list (fixed parenthesization — bitwise mirrorable);
    degenerate groups (n < 2 or zero within-variance) keep their raw
    mean with NULL shrunk/B and are excluded from the family fit;
    k < 2 leaves every shrunk NULL (no family to borrow from).

    Output per group: ``(grp, n, mean, shrunk_mean, b, tau2)``.  SQL
    mirror :func:`eb_shrunk_means_sql`.
    """
    g = (df.select(F.col(group_col).cast("string").alias("__g"),
                   F.col(value_col).cast("bigint").alias("__x"))
         .groupBy("__g")
         .agg(F.count(F.lit(1)).cast("bigint").alias("__n"),
              F.sum("__x").cast("decimal(38,0)").alias("__s"),
              F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,0)"))
              .alias("__q")))
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    q = F.col("__q").cast("double")
    m = s / n
    v = ((q - s * s / n) / (n - F.lit(1.0))) / n
    g2 = g.select(
        "__g", "__n", m.alias("__m"),
        F.when(F.col("__n") > 1, v).alias("__v"),
        ((F.col("__n") > 1) & (v > 0.0)).alias("__ok"))
    fam = (g2.where("__ok")
           .agg(F.array_sort(F.collect_list(F.struct(
               F.col("__g").alias("g"), F.col("__m").alias("m"),
               F.col("__v").alias("v")))).alias("__A"),
                F.count(F.lit(1)).cast("bigint").alias("__k")))

    def fold(expr):
        return F.aggregate("__A", F.lit(0.0), expr)

    sw = fold(lambda a, t: a + F.lit(1.0) / t["v"])
    swm = fold(lambda a, t: a + t["m"] / t["v"])
    sww = fold(lambda a, t: a + (F.lit(1.0) / t["v"])
               * (F.lit(1.0) / t["v"]))
    s1 = fam.select("__A", "__k", sw.alias("__sw"), swm.alias("__swm"),
                    sww.alias("__sww"))
    mu_w = F.col("__swm") / F.col("__sw")
    s2 = s1.select("__A", "__k", "__sw", "__sww", mu_w.alias("__muw"))
    qstat = F.aggregate(
        "__A", F.lit(0.0),
        lambda a, t: a + (t["m"] - F.col("__muw"))
        * (t["m"] - F.col("__muw")) / t["v"])
    denom = F.col("__sw") - F.col("__sww") / F.col("__sw")
    tau2 = F.when(
        (F.col("__k") > 1) & (denom > 0.0),
        F.greatest(F.lit(0.0),
                   (qstat - (F.col("__k") - F.lit(1)).cast("double"))
                   / denom))
    s3 = s2.select("__A", "__k", tau2.alias("__tau2"))
    sws = F.aggregate("__A", F.lit(0.0),
                      lambda a, t: a + F.lit(1.0) / (t["v"] + F.col("__tau2")))
    swsm = F.aggregate("__A", F.lit(0.0),
                       lambda a, t: a + t["m"] / (t["v"] + F.col("__tau2")))
    sc = s3.select("__k", "__tau2", (swsm / sws).alias("__mustar"))
    j = g2.crossJoin(F.broadcast(sc))
    b = F.col("__v") / (F.col("__v") + F.col("__tau2"))
    shrunk = b * F.col("__mustar") + (F.lit(1.0) - b) * F.col("__m")
    usable = F.col("__ok") & (F.col("__k") > 1) & F.col("__tau2").isNotNull()
    return j.select(
        F.col("__g").alias("grp"), F.col("__n").alias("n"),
        F.col("__m").alias("mean"),
        F.when(usable, shrunk).alias("shrunk_mean"),
        F.when(usable, b).alias("b"),
        F.when(F.col("__k") > 1, F.col("__tau2")).alias("tau2"))


def eb_shrunk_means_sql(table: str, value_expr: str,
                        group_expr: str) -> str:
    """DuckDB mirror of :func:`eb_shrunk_means` — identical moments,
    identical group-sorted left folds and chains."""
    def fold(term):
        return (f"list_reduce(list_prepend(0.0, list_transform(A, "
                f"t -> {term})), (p, q) -> p + q)")
    return f"""
    WITH g AS (
        SELECT CAST({group_expr} AS VARCHAR) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS DECIMAL(38,0))
                   AS s,
               SUM(CAST(CAST({value_expr} AS BIGINT)
                        * CAST({value_expr} AS BIGINT)
                        AS DECIMAL(38,0))) AS q
        FROM {table} GROUP BY 1
    ),
    g2 AS (
        SELECT grp, n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
               CASE WHEN n > 1 THEN
                   ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                     * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE)
               END AS v,
               n > 1 AND ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
                           * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1.0))
                         / CAST(n AS DOUBLE) > 0.0 AS ok
        FROM g
    ),
    fam AS (
        SELECT list_sort(list({{'g': grp, 'm': m, 'v': v}})) AS A,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g2 WHERE ok
    ),
    s1 AS (
        SELECT A, k,
               {fold('1.0 / t.v')} AS sw,
               {fold('t.m / t.v')} AS swm,
               {fold('(1.0 / t.v) * (1.0 / t.v)')} AS sww
        FROM fam
    ),
    s2 AS (SELECT A, k, sw, sww, swm / sw AS muw FROM s1),
    s3 AS (
        SELECT A, k,
               CASE WHEN k > 1 AND sw - sww / sw > 0.0 THEN
                   GREATEST(0.0,
                       ({fold('(t.m - muw) * (t.m - muw) / t.v')}
                        - CAST(k - 1 AS DOUBLE))
                       / (sw - sww / sw))
               END AS tau2
        FROM s2
    ),
    sc AS (
        SELECT k, tau2,
               {fold('t.m / (t.v + tau2)')}
                   / {fold('1.0 / (t.v + tau2)')} AS mustar
        FROM s3
    )
    SELECT g2.grp, g2.n, g2.m AS mean,
           CASE WHEN ok AND k > 1 AND tau2 IS NOT NULL THEN
               (v / (v + tau2)) * mustar
               + (1.0 - v / (v + tau2)) * m
           END AS shrunk_mean,
           CASE WHEN ok AND k > 1 AND tau2 IS NOT NULL
                THEN v / (v + tau2) END AS b,
           CASE WHEN k > 1 THEN tau2 END AS tau2
    FROM g2 CROSS JOIN sc
    """


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------

def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """NELSON-AALEN cumulative-hazard estimate (Nelson 1972, Aalen
    1978 — public literature): from the same one-row-per-subject
    contract as :func:`kaplan_meier` (integer ``duration_col``,
    ``event_col`` 1 = observed / 0 = right-censored), estimate
    Ĥ(t) = Σ_{t_j ≤ t} d_j/n_j — the hazard-scale twin of the KM
    curve (KM ≈ exp(−Ĥ)), preferred when hazards are the modelling
    target (churn intensity, failure rates) because it sums observed
    risk directly instead of multiplying survival factors.

    Exactness: d_j and n_j ride the shared exact-integer risk-set pass
    (:func:`_risk_set_arr`); each hazard increment is ONE correctly-
    rounded IEEE division d/n and each variance increment the fixed
    chain ``(d/n) · ((n−d)/n) / n`` (the binomial-variance estimator,
    Klein 1991) — NO transcendental anywhere, so no rounding step is
    needed: both engines fold identical doubles LEFT-TO-RIGHT over the
    time-sorted step array and agree bitwise (SQL mirror
    :func:`nelson_aalen_sql`).  The ratio form keeps every term in
    range at any n (never materializes n³, which would overflow bigint
    past n ≈ 2M subjects at risk).

    Scale: identical to kaplan_meier — the corpus aggregates to the
    bounded DISTINCT-DURATION relation before any per-group array
    work; the O(k²) prefix re-fold runs on k ≤ a few hundred
    calendar-bucketed durations, never corpus rows.

    Output: ``keys…, duration, n_risk, n_events, cum_hazard,
    var_hazard`` — one row per duration with d > 0.
    """
    df, gkeys = _with_group(df, keys)
    b = _risk_set_arr(df, duration_col, event_col, gkeys)

    def _h(y):
        return F.when(
            y["d"] > 0,
            y["d"].cast("double") / y["n"].cast("double"),
        ).otherwise(F.lit(0.0))

    def _vh(y):
        return F.when(
            y["d"] > 0,
            (y["d"].cast("double") / y["n"].cast("double"))
            * ((y["n"] - y["d"]).cast("double") / y["n"].cast("double"))
            / y["n"].cast("double"),
        ).otherwise(F.lit(0.0))

    arr = F.transform(
        F.col("__arr2"),
        lambda x, i: F.struct(
            x["t"].alias("t"), x["d"].alias("d"), x["n"].alias("n"),
            F.aggregate(
                F.slice(F.col("__arr2"), F.lit(1), i + 1), F.lit(0.0),
                lambda acc, y: acc + _h(y)).alias("h"),
            F.aggregate(
                F.slice(F.col("__arr2"), F.lit(1), i + 1), F.lit(0.0),
                lambda acc, y: acc + _vh(y)).alias("vh")))
    return (
        b.select(*gkeys, F.explode(arr).alias("__x"))
        .where(F.col("__x.d") > 0)
        .select(*(list(keys) or []),
                F.col("__x.t").alias("duration"),
                F.col("__x.n").alias("n_risk"),
                F.col("__x.d").alias("n_events"),
                F.col("__x.h").alias("cum_hazard"),
                F.col("__x.vh").alias("var_hazard"))
    )


def nelson_aalen_sql(
    subjects_sql: str,
    duration_expr: str = "duration",
    event_expr: str = "event",
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`nelson_aalen` — identical integer risk
    sets and the same left-folded division chains (single-float
    ``list_reduce`` accumulators, the kaplan_meier_sql idiom)."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    kout = f"{kpref}" if keys else ""
    hterm = ("CASE WHEN y.d > 0 THEN CAST(y.d AS DOUBLE)"
             " / CAST(y.n AS DOUBLE) ELSE 0.0 END")
    vterm = ("CASE WHEN y.d > 0 THEN"
             " (CAST(y.d AS DOUBLE) / CAST(y.n AS DOUBLE))"
             " * (CAST(y.n - y.d AS DOUBLE) / CAST(y.n AS DOUBLE))"
             " / CAST(y.n AS DOUBLE) ELSE 0.0 END")
    return f"""
    WITH subj AS ({subjects_sql}),
    g AS (
        SELECT {kpref}CAST({duration_expr} AS BIGINT) AS t,
               CAST(SUM(CAST({event_expr} AS BIGINT)) AS BIGINT) AS d,
               CAST(SUM(1 - CAST({event_expr} AS BIGINT)) AS BIGINT) AS c
        FROM subj GROUP BY {kpref}t
    ),
    a AS (
        SELECT {kpref}
               list_sort(list({{'t': t, 'd': d, 'c': c}})) AS arr,
               CAST(SUM(d + c) AS BIGINT) AS total
        FROM g {grp}
    ),
    b AS (
        SELECT {kpref}
               list_transform(arr, (x, i) -> {{
                   't': x.t, 'd': x.d,
                   'n': total - list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(arr[1:i-1], y -> y.d + y.c)),
                       (p, q) -> p + q)}}) AS arr2
        FROM a
    ),
    e AS (
        SELECT {kpref}
               unnest(list_transform(arr2, (x, i) -> {{
                   't': x.t, 'd': x.d, 'n': x.n,
                   'h': list_reduce(
                       list_prepend(0.0, list_transform(arr2[1:i],
                           y -> {hterm})),
                       (p, q) -> p + q),
                   'vh': list_reduce(
                       list_prepend(0.0, list_transform(arr2[1:i],
                           y -> {vterm})),
                       (p, q) -> p + q)}}),
                   recursive := true)
        FROM b
    )
    SELECT {kout}t AS duration, n AS n_risk, d AS n_events,
           h AS cum_hazard, vh AS var_hazard
    FROM e WHERE d > 0
    """


# ---------------------------------------------------------------------------
# Standardized effect size (Cohen's d / Hedges' g)
# ---------------------------------------------------------------------------

def cohens_d(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """STANDARDIZED mean-difference effect size — Cohen's d (Cohen
    1969) with the small-sample-bias correction Hedges' g (Hedges
    1981): the companion to :func:`welch_t`, answering "HOW BIG is the
    difference" after the t answers "is it real" — the number a 100 TB
    corpus forces on you, because at that n every test is significant
    and only effect size separates signal from noise.

    ``group_col`` must be 0/1.  Same exact integer moments as welch_t
    (n, Σx, DECIMAL-staged Σx²); the pooled variance
    ``s_p² = ((n0−1)s0² + (n1−1)s1²)/(n0+n1−2)``, d = (m1−m0)/s_p,
    and Hedges ``g = J·d`` with ``J = 1 − 3/(4·df − 1)`` (Hedges &
    Olkin 1985 approximation, df = n0+n1−2) are one mirrored double
    chain each — sqrt and division only, no transcendental.
    Degenerate inputs (either group with n < 2, missing group, zero
    pooled variance) emit NULL d/g.

    Output: one row ``(n0, n1, mean0, mean1, d, g)``.  SQL mirror
    :func:`cohens_d_sql`.
    """
    g = (
        df.select(F.col(group_col).cast("bigint").alias("__wg"),
                  F.col(value_col).cast("bigint").alias("__x"))
        .groupBy("__wg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"),
             F.sum("__x").cast("decimal(38,0)").alias("__s"),
             F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,0)"))
             .alias("__q"))
    )
    def side(i):
        return [F.max(F.when(F.col("__wg") == i, F.col(c)))
                .alias(f"{c}_{i}") for c in ("__n", "__s", "__q")]
    a = g.agg(*side(0), *side(1))
    def stats(i):
        n = F.col(f"__n_{i}").cast("double")
        s = F.col(f"__s_{i}").cast("double")
        q = F.col(f"__q_{i}").cast("double")
        mean = s / n
        var = (q - s * s / n) / (n - F.lit(1.0))
        return n, mean, var
    n0, m0, v0 = stats(0)
    n1, m1, v1 = stats(1)
    sp2 = ((n0 - F.lit(1.0)) * v0 + (n1 - F.lit(1.0)) * v1) \
        / (n0 + n1 - F.lit(2.0))
    d = (m1 - m0) / F.sqrt(sp2)
    jf = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (n0 + n1 - F.lit(2.0))
                                    - F.lit(1.0))
    ok = (F.col("__n_0") > 1) & (F.col("__n_1") > 1) & (sp2 > 0.0)
    return a.select(
        F.col("__n_0").alias("n0"), F.col("__n_1").alias("n1"),
        m0.alias("mean0"), m1.alias("mean1"),
        F.when(ok, d).alias("d"),
        F.when(ok, jf * d).alias("g"))


def cohens_d_sql(table: str, value_expr: str, group_expr: str) -> str:
    """DuckDB mirror of :func:`cohens_d` — identical moments and
    double chains."""
    return f"""
    WITH g AS (
        SELECT CAST({group_expr} AS BIGINT) AS wg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({value_expr} AS BIGINT)) AS DECIMAL(38,0))
                   AS s,
               SUM(CAST(CAST({value_expr} AS BIGINT)
                        * CAST({value_expr} AS BIGINT)
                        AS DECIMAL(38,0))) AS q
        FROM {table} GROUP BY 1
    ),
    a AS (
        SELECT MAX(CASE WHEN wg = 0 THEN n END) AS n0,
               MAX(CASE WHEN wg = 0 THEN s END) AS s0,
               MAX(CASE WHEN wg = 0 THEN q END) AS q0,
               MAX(CASE WHEN wg = 1 THEN n END) AS n1,
               MAX(CASE WHEN wg = 1 THEN s END) AS s1,
               MAX(CASE WHEN wg = 1 THEN q END) AS q1
        FROM g
    ),
    b AS (
        SELECT n0, n1,
               CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
               (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)
                    * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                   / (CAST(n0 AS DOUBLE) - 1.0) AS v0,
               (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) - 1.0) AS v1
        FROM a
    ),
    c AS (
        SELECT n0, n1, mean0, mean1,
               ((CAST(n0 AS DOUBLE) - 1.0) * v0
                + (CAST(n1 AS DOUBLE) - 1.0) * v1)
                   / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2.0)
                   AS sp2
        FROM b
    )
    SELECT n0, n1, mean0, mean1,
           CASE WHEN n0 > 1 AND n1 > 1 AND sp2 > 0.0 THEN
               (mean1 - mean0) / sqrt(sp2) END AS d,
           CASE WHEN n0 > 1 AND n1 > 1 AND sp2 > 0.0 THEN
               (1.0 - 3.0 / (4.0 * (CAST(n0 AS DOUBLE)
                                    + CAST(n1 AS DOUBLE) - 2.0) - 1.0))
               * ((mean1 - mean0) / sqrt(sp2)) END AS g
    FROM c
    """


# ---------------------------------------------------------------------------
# Pettitt changepoint test
# ---------------------------------------------------------------------------

def pettitt_changepoint(
    df: DataFrame,
    value_col: str,
    time_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """PETTITT single-changepoint test (Pettitt 1979) on a TIME-ORDERED
    series — the drift family's "WHEN did it shift" companion to
    :func:`mann_kendall`'s "is it drifting": U_t = Σ_{i≤t<j}
    sign(x_j − x_i), K = max_t |U_t| over 1 ≤ t < T, with the
    changepoint located at the argmax and the classic approximation
    p ≈ 2·exp(−6K²/(T³+T²)).

    INPUT CONTRACT: one row per time point (pre-aggregate upstream),
    INTEGER ``time_col`` (day index — the argmax tie-break negates it)
    and integer ``value_col``.  The pair relation is the bounded T×T
    self-join (calendar-bounded — the mann_kendall acceptance class);
    U_t is NOT materialized per pair-and-t (that would cube T) but by
    the exact integer recurrence U_t = U_{t−1} + out_t − in_t, where
    out_t / in_t are per-endpoint sign sums over the pair relation —
    O(T²) pairs, O(T) running state.  The cumulative window runs over
    the bounded per-group time relation (the documented bounded-domain
    window class).  Ties: sign() handles them exactly (zero
    contribution), per Pettitt's original statistic.

    K and U are exact integers; p is ONE exp rounded to 9 decimals
    (post-transcendental discipline), capped at 1.  Argmax tie-break is
    the EARLIEST time (max over the (|U_t|, −t) struct).  n < 2 emits
    NULL K/p/changepoint.

    Output: ``keys…, n, k_stat, u_at_cp, cp_time, p``.  SQL mirror
    :func:`pettitt_changepoint_sql`.
    """
    df, gkeys = _with_group(df, keys)
    s = df.select(*gkeys, F.col(time_col).cast("bigint").alias("__t"),
                  F.col(value_col).cast("bigint").alias("__x"))
    a, b = s.alias("a"), s.alias("b")
    cond = F.col("b.__t") > F.col("a.__t")
    for k in gkeys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    sgn = F.signum((F.col("b.__x") - F.col("a.__x")).cast("double")) \
        .cast("bigint")
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{k}").alias(k) for k in gkeys],
        F.col("a.__t").alias("__ti"), F.col("b.__t").alias("__tj"),
        sgn.alias("__s"))
    out_t = pairs.groupBy(*gkeys, F.col("__ti").alias("__t")) \
        .agg(F.sum("__s").alias("__out"))
    in_t = pairs.groupBy(*gkeys, F.col("__tj").alias("__t")) \
        .agg(F.sum("__s").alias("__in"))
    v = (s.join(out_t, [*gkeys, "__t"], "left")
         .join(in_t, [*gkeys, "__t"], "left")
         .select(*gkeys, "__t",
                 (F.coalesce(F.col("__out"), F.lit(0))
                  - F.coalesce(F.col("__in"), F.lit(0))).alias("__v")))
    wcum = (Window.partitionBy(*gkeys).orderBy("__t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = v.withColumn("__u", F.sum("__v").over(wcum))
    stats = s.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("__t").alias("__tmax"))
    agg = (u.join(F.broadcast(stats), gkeys)
           .where(F.col("__t") < F.col("__tmax"))
           .groupBy(*gkeys)
           .agg(F.max(F.struct(
               F.abs(F.col("__u")).alias("a"),
               (-F.col("__t")).alias("nt"),
               F.col("__u").alias("u"))).alias("__m")))
    j = stats.join(agg, gkeys, "left")
    n = F.col("n").cast("double")
    kd = F.col("__m.a").cast("double")
    p = F.least(
        F.lit(1.0),
        F.round(F.lit(2.0) * F.exp((F.lit(-6.0) * kd * kd)
                                   / (n * n * n + n * n)), 9))
    ok = (F.col("n") > 1) & F.col("__m").isNotNull()
    return j.select(
        *(list(keys) or []), "n",
        F.when(ok, F.col("__m.a")).alias("k_stat"),
        F.when(ok, F.col("__m.u")).alias("u_at_cp"),
        F.when(ok, -F.col("__m.nt")).alias("cp_time"),
        F.when(ok, p).alias("p"))


def pettitt_changepoint_sql(table: str, value_expr: str, time_expr: str,
                            keys: Sequence[str] = ()) -> str:
    """DuckDB mirror of :func:`pettitt_changepoint` — identical integer
    pair sums, recurrence, argmax struct, and the one rounded exp."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    agrp = ", ".join(f"a.{k}" for k in keys)
    agrp_pref = f"{agrp}, " if keys else ""
    kjoin = " AND ".join(f"a.{k} = b.{k}" for k in keys)
    pair_on = f"b.t > a.t{' AND ' + kjoin if keys else ''}"
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    ujoin = f"USING ({kcols}, t)" if keys else "USING (t)"
    sjoin = f"USING ({kcols})" if keys else ""
    ljoin = (f"stats LEFT JOIN agg USING ({kcols})" if keys
             else "stats LEFT JOIN agg ON TRUE")
    return f"""
    WITH s AS (
        SELECT {kpref}CAST({time_expr} AS BIGINT) AS t,
               CAST({value_expr} AS BIGINT) AS x
        FROM {table}
    ),
    pairs AS (
        SELECT {agrp_pref}a.t AS ti, b.t AS tj,
               CAST(sign(CAST(b.x - a.x AS DOUBLE)) AS BIGINT) AS sg
        FROM s a JOIN s b ON {pair_on}
    ),
    out_t AS (
        SELECT {kpref}ti AS t, CAST(SUM(sg) AS BIGINT) AS o
        FROM pairs GROUP BY {kpref}ti
    ),
    in_t AS (
        SELECT {kpref}tj AS t, CAST(SUM(sg) AS BIGINT) AS i
        FROM pairs GROUP BY {kpref}tj
    ),
    v AS (
        SELECT {kpref}t,
               COALESCE(o, CAST(0 AS BIGINT))
                   - COALESCE(i, CAST(0 AS BIGINT)) AS vv
        FROM s LEFT JOIN out_t {ujoin} LEFT JOIN in_t {ujoin}
    ),
    u AS (
        SELECT {kpref}t,
               CAST(SUM(vv) OVER (
                   {f'PARTITION BY {kcols}' if keys else ''}
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS uu
        FROM v
    ),
    stats AS (
        SELECT {kpref}CAST(COUNT(*) AS BIGINT) AS n,
               MAX(t) AS tmax
        FROM s {grp}
    ),
    agg AS (
        SELECT {kpref}MAX({{'a': abs(uu), 'nt': -t, 'u': uu}}) AS m
        FROM u JOIN stats {sjoin if keys else 'ON TRUE'}
        WHERE t < tmax
        {f'GROUP BY {kcols}' if keys else ''}
    )
    SELECT {kpref}n,
           CASE WHEN n > 1 AND m IS NOT NULL THEN m.a END AS k_stat,
           CASE WHEN n > 1 AND m IS NOT NULL THEN m.u END AS u_at_cp,
           CASE WHEN n > 1 AND m IS NOT NULL THEN -m.nt END AS cp_time,
           CASE WHEN n > 1 AND m IS NOT NULL THEN
               LEAST(1.0, round(2.0 * exp((-6.0 * CAST(m.a AS DOUBLE)
                   * CAST(m.a AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE)
                      + CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 9))
           END AS p
    FROM {ljoin}
    """


# ---------------------------------------------------------------------------
# Anytime-valid confidence sequence (Bernoulli rate)
# ---------------------------------------------------------------------------

def hoeffding_confseq(
    df: DataFrame,
    time_col: str,
    trials_col: str,
    successes_col: str,
    keys: Sequence[str] = (),
    alpha_permille: int = 50,
) -> DataFrame:
    """ANYTIME-VALID confidence sequence for a cumulative Bernoulli
    rate (Howard, Ramdas, McAuliffe & Sekhon, Ann. Stat. 2021 — the
    "stitched" time-uniform boundary with their recommended constants):
    radius_t = 1.7·√((ln ln(2t) + 0.72·ln(5.2/α)) / t).  Unlike the
    fixed-n z-interval, the band covers the TRUE rate simultaneously
    over ALL days with probability 1−α — so the experiment can be
    PEEKED AT and stopped any day without inflating error: the
    sequential-testing primitive a continuously-monitored ingest or
    A/B pipeline actually needs (classic z-tests are invalid under
    optional stopping).

    INPUT CONTRACT: one row per time bucket (pre-aggregate upstream)
    with integer trials/successes; cumulative sums run over the
    bounded per-group time relation (the documented bounded-domain
    window class).  t and s are exact integers; rate is one division;
    the radius chain rounds to 9 decimals after EACH ln (the shared
    post-transcendental discipline — ln ln nests two), and 5.2/α is
    computed from the integer permille so α never exists as an
    inexact literal.  Rows with cumulative t < 2 (where ln ln(2t) ≤ 0
    can flip sign) emit NULL radius/bounds.

    Output: ``keys…, {time_col}, n_cum, s_cum, rate, radius, lo, hi``
    with lo/hi clamped to [0, 1].  SQL mirror
    :func:`hoeffding_confseq_sql`.
    """
    df, gkeys = _with_group(df, keys)
    s = df.select(*gkeys, F.col(time_col).alias("__t"),
                  F.col(trials_col).cast("bigint").alias("__n"),
                  F.col(successes_col).cast("bigint").alias("__s"))
    wcum = (Window.partitionBy(*gkeys).orderBy("__t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = s.select(
        *gkeys, "__t",
        F.sum("__n").over(wcum).cast("bigint").alias("n_cum"),
        F.sum("__s").over(wcum).cast("bigint").alias("s_cum"))
    return confseq_bounds(
        c.select(*(list(keys) or []), F.col("__t").alias(time_col),
                 "n_cum", "s_cum"),
        alpha_permille=alpha_permille)


def confseq_bounds(
    df: DataFrame,
    n_col: str = "n_cum",
    s_col: str = "s_cum",
    alpha_permille: int = 50,
) -> DataFrame:
    """Append the stitched-boundary columns (rate, radius, lo, hi) to a
    relation of exact integer cumulative counts — the SHARED terminal
    chain of :func:`hoeffding_confseq`, also applied by the streaming
    twin to its integer state output so batch and stream walk the
    identical Spark expression (bitwise parity by construction)."""
    t = F.col(n_col).cast("double")
    lnln = F.round(F.log(F.round(F.log(F.lit(2.0) * t), 9)), 9)
    lna = F.round(F.log(F.lit(5200.0) / F.lit(float(alpha_permille))), 9)
    radius = F.lit(1.7) * F.sqrt((lnln + F.lit(0.72) * lna) / t)
    rate = F.col(s_col).cast("double") / t
    ok = F.col(n_col) >= 2
    return df.select(
        *df.columns,
        F.when(F.col(n_col) > 0, rate).alias("rate"),
        F.when(ok, radius).alias("radius"),
        F.when(ok, F.greatest(F.lit(0.0), rate - radius)).alias("lo"),
        F.when(ok, F.least(F.lit(1.0), rate + radius)).alias("hi"))


def hoeffding_confseq_sql(
    table: str,
    time_expr: str,
    trials_expr: str,
    successes_expr: str,
    time_name: str = "t",
    keys: Sequence[str] = (),
    alpha_permille: int = 50,
) -> str:
    """DuckDB mirror of :func:`hoeffding_confseq` — identical integer
    cumulative sums and the same double-rounded ln chain."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    part = f"PARTITION BY {kcols} " if keys else ""
    td = "CAST(n_cum AS DOUBLE)"
    lnln = f"round(ln(round(ln(2.0 * {td}), 9)), 9)"
    lna = f"round(ln(5200.0 / {float(alpha_permille)!r}e0), 9)"
    radius = f"(1.7 * sqrt(({lnln} + 0.72 * {lna}) / {td}))"
    rate = f"(CAST(s_cum AS DOUBLE) / {td})"
    return f"""
    WITH s AS (
        SELECT {kpref}{time_expr} AS tt,
               CAST({trials_expr} AS BIGINT) AS n,
               CAST({successes_expr} AS BIGINT) AS sx
        FROM {table}
    ),
    c AS (
        SELECT {kpref}tt,
               CAST(SUM(n) OVER ({part}ORDER BY tt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_cum,
               CAST(SUM(sx) OVER ({part}ORDER BY tt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS s_cum
        FROM s
    )
    SELECT {kpref}tt AS {time_name}, n_cum, s_cum,
           CASE WHEN n_cum > 0 THEN {rate} END AS rate,
           CASE WHEN n_cum >= 2 THEN {radius} END AS radius,
           CASE WHEN n_cum >= 2 THEN
               GREATEST(0.0, {rate} - {radius}) END AS lo,
           CASE WHEN n_cum >= 2 THEN
               LEAST(1.0, {rate} + {radius}) END AS hi
    FROM c
    """


# ---------------------------------------------------------------------------
# Cliff's delta (ordinal effect size)
# ---------------------------------------------------------------------------

def cliffs_delta(
    df: DataFrame,
    score_col: str,
    label_col: str,
    keys: Sequence[str] = (),
    nbuckets: int = 8192,
) -> DataFrame:
    """CLIFF'S DELTA ordinal effect size (Cliff 1993): δ = (#(x₁>x₀) −
    #(x₁<x₀)) / (n₁·n₀) — the rank-scale companion to :func:`cohens_d`
    the way :func:`mannwhitney_z` companions :func:`welch_t`: robust to
    outliers and any monotone transform, δ = 2·AUC − 1.

    Exactness: rides the identical distinct-value + :func:`cum_below`
    machinery as mannwhitney_z — num2 = 2·#> + #ties is an exact
    DECIMAL integer, and δ = (num2 − n₁n₀)/(n₁n₀) is ONE division of
    exact integers (no transcendental).  The magnitude label applies
    the Romano et al. 2006 thresholds (0.147/0.33/0.474) to the
    mirrored double.  Degenerate groups (either class empty) emit
    NULL.

    Output: ``keys…, n_pos, n_neg, delta, magnitude``.  SQL mirror
    :func:`cliffs_delta_sql`.
    """
    df, gkeys = _with_group(df, keys)
    lab = F.col(label_col).cast("bigint")
    d = (
        df.select(*gkeys, F.col(score_col).cast("bigint").alias("__s"),
                  lab.alias("__y"))
        .groupBy(*gkeys, "__s")
        .agg(F.sum("__y").alias("__pos"),
             F.sum(F.lit(1) - F.col("__y")).alias("__neg"))
    )
    c = cum_below(d, gkeys, "__s", ["__neg"], nbuckets=nbuckets)
    agg = c.groupBy(*gkeys).agg(
        F.sum((F.col("__pos") * (F.lit(2) * F.col("below___neg")
                                 + F.col("__neg"))).cast("decimal(38,0)"))
        .alias("__num2"),
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum("__neg").cast("bigint").alias("n_neg"))
    pn = (F.col("n_pos").cast("decimal(38,0)")
          * F.col("n_neg").cast("decimal(38,0)"))
    delta = (F.col("__num2") - pn).cast("double") / pn.cast("double")
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    mag = (F.when(F.abs(delta) < 0.147, "negligible")
           .when(F.abs(delta) < 0.33, "small")
           .when(F.abs(delta) < 0.474, "medium")
           .otherwise("large"))
    return agg.select(
        *(list(keys) or []), "n_pos", "n_neg",
        F.when(ok, delta).alias("delta"),
        F.when(ok, mag).alias("magnitude"))


def cliffs_delta_sql(
    table: str,
    score_expr: str,
    label_expr: str,
    keys: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`cliffs_delta` — identical integer sums
    and the single division."""
    kcols = ", ".join(keys)
    kpref = f"{kcols}, " if keys else ""
    part = f"PARTITION BY {kcols} " if keys else ""
    grp = f"GROUP BY {kcols}" if keys else "GROUP BY ()"
    pn = ("CAST(n_pos AS DECIMAL(38,0)) * CAST(n_neg AS DECIMAL(38,0))")
    delta = (f"CAST(num2 - {pn} AS DOUBLE) / CAST({pn} AS DOUBLE)")
    return f"""
    WITH pts AS (
      SELECT {kpref}CAST({score_expr} AS BIGINT) AS s,
             CAST({label_expr} AS BIGINT) AS y
      FROM {table}
    ),
    d AS (
      SELECT {kpref}s, SUM(y) AS pos, SUM(1 - y) AS neg
      FROM pts GROUP BY {kpref}s
    ),
    c AS (
      SELECT {kpref}s, pos, neg,
             COALESCE(SUM(neg) OVER ({part}ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM d
    ),
    a AS (
      SELECT {kpref}
             CAST(SUM(pos * (2 * below + neg)) AS DECIMAL(38,0)) AS num2,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg
      FROM c {grp}
    )
    SELECT {kpref}n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN {delta} END AS delta,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CASE WHEN abs({delta}) < 0.147 THEN 'negligible'
                  WHEN abs({delta}) < 0.33 THEN 'small'
                  WHEN abs({delta}) < 0.474 THEN 'medium'
                  ELSE 'large' END
           END AS magnitude
    FROM a
    """


# ---------------------------------------------------------------------------
# Wilson score interval
# ---------------------------------------------------------------------------

_Z975 = 1.959963984540054  # standard-normal 0.975 quantile, fixed literal


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
) -> DataFrame:
    """WILSON SCORE 95% interval for a per-group proportion (Wilson
    1927) — the CI companion to :func:`two_proportion_ztest`, and the
    interval that behaves at the boundaries where the Wald ±z√(pq/n)
    collapses (p̂ = 0 or 1 gives a zero-width Wald interval; Wilson
    stays honest and inside [0, 1] by construction, no clamping).

    Exact integer (n, s) per group; center = (p̂ + z²/2n)/(1 + z²/n)
    and radius = (z/(1 + z²/n))·√((p̂(1−p̂) + z²/4n)/n) are one
    mirrored sqrt/division chain each with z the fixed 0.975-quantile
    literal.  n = 0 emits NULL bounds.

    Output: ``group, n, successes, rate, lo, hi``.  SQL mirror
    :func:`wilson_ci_sql`.
    """
    g = (
        df.select(F.col(group_col).alias("g"),
                  F.col(success_col).cast("bigint").alias("__s"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum("__s").cast("bigint").alias("successes"))
    )
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z = F.lit(_Z975)
    denom = F.lit(1.0) + z * z / n
    center = (p + z * z / (F.lit(2.0) * n)) / denom
    rad = (z / denom) * F.sqrt(
        (p * (F.lit(1.0) - p) + z * z / (F.lit(4.0) * n)) / n)
    ok = F.col("n") > 0
    return g.select(
        "g", "n", "successes",
        F.when(ok, p).alias("rate"),
        F.when(ok, center - rad).alias("lo"),
        F.when(ok, center + rad).alias("hi"))


def wilson_ci_sql(table: str, group_expr: str, success_expr: str) -> str:
    """DuckDB mirror of :func:`wilson_ci` — identical chains."""
    z = f"{_Z975!r}e0"
    n = "CAST(n AS DOUBLE)"
    p = f"(CAST(successes AS DOUBLE) / {n})"
    denom = f"(1.0e0 + {z} * {z} / {n})"
    center = f"(({p} + {z} * {z} / (2.0e0 * {n})) / {denom})"
    rad = (f"(({z} / {denom}) * sqrt((({p} * (1.0e0 - {p})"
           f" + {z} * {z} / (4.0e0 * {n})) / {n})))")
    return f"""
    WITH g AS (
        SELECT {group_expr} AS g,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST({success_expr} AS BIGINT)) AS BIGINT)
                   AS successes
        FROM {table} GROUP BY 1
    )
    SELECT g, n, successes,
           CASE WHEN n > 0 THEN {p} END AS rate,
           CASE WHEN n > 0 THEN {center} - {rad} END AS lo,
           CASE WHEN n > 0 THEN {center} + {rad} END AS hi
    FROM g
    """


# ---------------------------------------------------------------------------
# G-test of independence
# ---------------------------------------------------------------------------

def g_test_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """G-TEST (log-likelihood ratio) of independence (Sokal & Rohlf;
    Woolf 1957) — :func:`chi2_independence`'s likelihood-scale twin,
    preferred when cells are small or effects multiplicative:
    G = 2·Σ_cells O·ln(O·N/(R·C)) over occupied cells (empty cells
    contribute 0 by the x·ln x → 0 limit, exactly — they simply don't
    exist in the sparse cell relation).

    Same confusion-matrix + margin machinery as chi2; each cell's ln
    rounds to 9 decimals (post-transcendental discipline), the sum
    folds over the (a, b)-sorted cell array, G emits via one final
    round.  dof = (R−1)(C−1); dof = 0 emits NULL G.

    Output: one row — ``g_stat, dof, n``.  SQL mirror
    :func:`g_test_independence_sql`.
    """
    conf = (
        df.select(F.col(a_col).alias("__a"), F.col(b_col).alias("__bv"))
        .groupBy("__a", "__bv").agg(F.count(F.lit(1)).alias("__c"))
    )
    ra = conf.groupBy("__a").agg(F.sum("__c").cast("bigint").alias("__ra"))
    rb = conf.groupBy("__bv").agg(F.sum("__c").cast("bigint").alias("__rb"))
    j = conf.join(F.broadcast(ra), "__a").join(F.broadcast(rb), "__bv")
    # N joins in via a one-row scalar broadcast (the grand-total idiom)
    tot = conf.agg(F.sum("__c").cast("bigint").alias("__n"))
    jj = j.crossJoin(F.broadcast(tot))
    term = F.col("__c").cast("double") * F.round(F.log(
        (F.col("__c") * F.col("__n")).cast("decimal(38,0)").cast("double")
        / (F.col("__ra") * F.col("__rb")).cast("decimal(38,0)")
        .cast("double")), 9)
    cells = jj.select("__a", "__bv", term.alias("__t"), F.col("__c"))
    pairs = F.array_sort(F.collect_list(
        F.struct(F.col("__a"), F.col("__bv"), F.col("__t"))))
    ssum = F.aggregate(pairs, F.lit(0.0), lambda acc, s: acc + s["__t"])
    agg = cells.agg(
        ssum.alias("__s"),
        F.sum("__c").cast("bigint").alias("n"),
        F.count_distinct(F.col("__a")).cast("bigint").alias("__nr"),
        F.count_distinct(F.col("__bv")).cast("bigint").alias("__nk"),
    )
    dof = (F.col("__nr") - 1) * (F.col("__nk") - 1)
    return agg.select(
        F.when(dof > 0, F.round(F.lit(2.0) * F.col("__s"), 9))
        .alias("g_stat"),
        dof.cast("bigint").alias("dof"),
        "n",
    )


def g_test_independence_sql(table: str, a_expr: str, b_expr: str) -> str:
    """DuckDB mirror of :func:`g_test_independence` — same sorted fold,
    rounds, and expression order."""
    return f"""
    WITH pts AS (SELECT {a_expr} AS a, {b_expr} AS b FROM {table}),
    conf AS (SELECT a, b, COUNT(*) AS c FROM pts GROUP BY a, b),
    ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM conf GROUP BY a),
    rb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS rb FROM conf GROUP BY b),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM conf),
    cells AS (
      SELECT conf.a, conf.b,
             CAST(c AS DOUBLE) * round(ln(
                 CAST(CAST(c * nn AS DECIMAL(38,0)) AS DOUBLE)
                 / CAST(CAST(ra * rb AS DECIMAL(38,0)) AS DOUBLE)), 9)
                 AS t,
             c
      FROM conf JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot
    ),
    agg AS (
      SELECT list_reduce(
               list_prepend(0.0, list_sort(list({{'a': a, 'b': b, 't': t}}))
                            .apply(e -> e.t)),
               (acc, x) -> acc + x) AS s,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS nk
      FROM cells
    )
    SELECT CASE WHEN (nr - 1) * (nk - 1) > 0 THEN
             round(2.0 * s, 9) END AS g_stat,
           CAST((nr - 1) * (nk - 1) AS BIGINT) AS dof,
           n
    FROM agg
    """


# ---------------------------------------------------------------------------
# Combined p-values (Fisher / Stouffer)
# ---------------------------------------------------------------------------

def combine_pvalues(
    df: DataFrame,
    p_col: str,
    z_col: str,
) -> DataFrame:
    """COMBINE a bounded family of independent tests into ONE verdict —
    Fisher's method (1932): X² = −2·Σ ln p ~ χ²(2k), whose survival
    function at even df has the CLOSED FORM exp(−h)·Σ_{j<k} h^j/j!
    (h = X²/2, the Erlang tail — no incomplete-gamma needed, so it
    mirrors exactly); and Stouffer's Z (1949): Z = Σ z_i/√k.  The
    complement to :func:`bh_fdr`: BH asks "WHICH hypotheses", this
    asks "is there ANY effect in the family" with more power than the
    smallest adjusted p when effects are diffuse.

    Exactness: NULL-p rows drop out (the bh_fdr convention); folds run
    over the (p, z)-sorted bounded family array; each ln rounds to 9
    decimals (p floored at 1e-300 first — ln(0) is NULL on Spark and
    an ERROR on DuckDB); the Erlang partial sum folds j = 1..k−1
    sequentially with the fixed chain ``t·h/j``; both final p's round
    after their exp/erfc.

    Output: one row — ``k, fisher_x2, fisher_p, stouffer_z,
    stouffer_p``; k = 0 emits NULLs.  SQL mirror
    :func:`combine_pvalues_sql`.
    """
    d = df.where(F.col(p_col).isNotNull()).select(
        F.col(p_col).cast("double").alias("__p"),
        F.col(z_col).cast("double").alias("__z"))
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("__p").alias("p"), F.col("__z").alias("z"))))
    agg = d.agg(arr.alias("__arr"),
                F.count(F.lit(1)).cast("bigint").alias("k"))
    lnterm = lambda y: F.round(  # noqa: E731
        F.log(F.greatest(y["p"], F.lit(1e-300))), 9)
    x2 = F.lit(-2.0) * F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, y: acc + lnterm(y))
    sz = F.aggregate(
        F.col("__arr"), F.lit(0.0), lambda acc, y: acc + y["z"])
    st = agg.select(
        "k", x2.alias("__x2"),
        (sz / F.sqrt(F.col("k").cast("double"))).alias("__sz"))
    h = F.col("__x2") / F.lit(2.0)
    # Erlang partial sum Σ_{j<k} h^j/j! as nested SINGLE-DOUBLE folds
    # (term_j = Π_{i≤j} h/i) — the multi-float struct accumulator is the
    # documented holt_last_sql hazard on the DuckDB side, so both
    # engines run the same O(k²) scalar folds on the bounded family
    erl = F.when(
        F.col("k") > 1,
        F.lit(1.0) + F.aggregate(
            F.sequence(F.lit(1), (F.col("k") - 1).cast("int")),
            F.lit(0.0),
            lambda acc, jj: acc + F.aggregate(
                F.sequence(F.lit(1), jj),
                F.lit(1.0),
                lambda a, ii: a * (h / ii.cast("double"))),
        )).otherwise(F.lit(1.0))
    ok = F.col("k") > 0
    return st.select(
        "k",
        F.when(ok, F.round(F.col("__x2"), 9)).alias("fisher_x2"),
        F.when(ok, F.round(F.exp(-h) * erl, 9)).alias("fisher_p"),
        F.when(ok, F.col("__sz")).alias("stouffer_z"),
        F.when(ok, normal_p_two_sided(F.col("__sz"))).alias("stouffer_p"))


def combine_pvalues_sql(hypotheses_sql: str, p_expr: str = "p",
                        z_expr: str = "z") -> str:
    """DuckDB mirror of :func:`combine_pvalues` — identical sorted
    folds, Erlang partial sum, and rounding points."""
    lnterm = f"round(ln(GREATEST(y.p, 1e-300)), 9)"
    return f"""
    WITH hyp AS ({hypotheses_sql}),
    d AS (SELECT CAST({p_expr} AS DOUBLE) AS p,
                 CAST({z_expr} AS DOUBLE) AS z
          FROM hyp WHERE {p_expr} IS NOT NULL),
    a AS (
        SELECT list_sort(list({{'p': p, 'z': z}})) AS arr,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM d
    ),
    st AS (
        SELECT k,
               -2.0 * list_reduce(
                   list_prepend(0.0, list_transform(arr, y -> {lnterm})),
                   (p, q) -> p + q) AS x2,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, y -> y.z)), (p, q) -> p + q)
                   / sqrt(CAST(k AS DOUBLE)) AS sz
        FROM a
    ),
    e AS (
        SELECT k, x2, sz, x2 / 2.0 AS h,
               CASE WHEN k > 1 THEN
                   1.0 + list_reduce(
                       list_prepend(0.0,
                           list_transform(range(1, CAST(k AS INT)),
                               j -> list_reduce(
                                   list_prepend(1.0,
                                       list_transform(range(1, j + 1),
                                           i -> CAST(i AS DOUBLE))),
                                   (a, i) -> a * ((x2 / 2.0) / i)))),
                       (p, q) -> p + q)
               ELSE 1.0 END AS erl
        FROM st
    )
    SELECT k,
           CASE WHEN k > 0 THEN round(x2, 9) END AS fisher_x2,
           CASE WHEN k > 0 THEN round(exp(-h) * erl, 9) END AS fisher_p,
           CASE WHEN k > 0 THEN sz END AS stouffer_z,
           CASE WHEN k > 0 THEN {normal_p_two_sided_sql('sz')} END
               AS stouffer_p
    FROM e
    """


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified association
# ---------------------------------------------------------------------------

def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL test of exposure×outcome association
    ACROSS strata (Mantel & Haenszel 1959; Cochran 1954) with the MH
    common odds ratio — the stratified answer to "is the effect real,
    or is it Simpson's paradox": pooling 2×2 tables naively can invert
    an association that every stratum shows; CMH sums per-stratum
    evidence instead.  ``exposure_col``/``outcome_col`` must be 0/1.

    Per stratum: a = (1,1) count, E = r₁c₁/n, V = r₁r₀c₁c₀/(n²(n−1))
    — the hypergeometric moments, exactly the :func:`logrank_test`
    machinery shape.  Margins are exact integers (products DECIMAL-
    staged); Σa is an exact integer; ΣE/ΣV and the two OR_MH sums
    (Σ a·d/n, Σ b·c/n — each ONE division) fold over the stratum-
    sorted bounded family array.  CMH = (Σa − ΣE)²/ΣV ~ χ²(1), whose
    survival function is 2(1−Φ(√x)) — the shared erfc chain, no
    incomplete gamma.  Strata with n < 2 are excluded (V's n−1
    denominator; the standard convention); degenerate-margin strata
    contribute zero through their own zeros.  ΣV = 0 emits NULL
    cmh/p; zero b·c mass emits NULL or_mh.

    Output: one row — ``k_strata, sum_a, cmh, p, or_mh``.  SQL mirror
    :func:`cmh_test_sql`.
    """
    s = df.select(
        F.col(stratum_col).alias("__h"),
        F.col(exposure_col).cast("bigint").alias("__e"),
        F.col(outcome_col).cast("bigint").alias("__o"))
    g = s.groupBy("__h").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("__e") * F.col("__o")).cast("bigint").alias("__a"),
        F.sum(F.col("__e")).cast("bigint").alias("__r1"),
        F.sum(F.col("__o")).cast("bigint").alias("__c1"))
    g = g.where(F.col("__n") >= 2).select(
        "__h", "__n", "__a", "__r1", "__c1",
        (F.col("__r1") - F.col("__a")).alias("__b"),
        (F.col("__c1") - F.col("__a")).alias("__c"),
        (F.col("__n") - F.col("__r1") - F.col("__c1") + F.col("__a"))
        .alias("__d"))
    nd = F.col("__n").cast("double")
    e_h = (F.col("__r1") * F.col("__c1")).cast("decimal(38,0)") \
        .cast("double") / nd
    v_h = ((F.col("__r1") * (F.col("__n") - F.col("__r1")))
           .cast("decimal(38,0)")
           * (F.col("__c1") * (F.col("__n") - F.col("__c1")))
           .cast("decimal(38,0)")).cast("double") \
        / (nd * nd * (nd - F.lit(1.0)))
    ad_h = (F.col("__a") * F.col("__d")).cast("decimal(38,0)") \
        .cast("double") / nd
    bc_h = (F.col("__b") * F.col("__c")).cast("decimal(38,0)") \
        .cast("double") / nd
    cells = g.select(
        "__h", F.col("__a"),
        e_h.alias("__eh"), v_h.alias("__vh"),
        ad_h.alias("__adh"), bc_h.alias("__bch"))
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("__h").alias("h"), F.col("__eh").alias("e"),
        F.col("__vh").alias("v"), F.col("__adh").alias("ad"),
        F.col("__bch").alias("bc"))))
    agg = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_strata"),
        F.sum("__a").cast("bigint").alias("sum_a"),
        arr.alias("__arr"))
    fold = lambda f: F.aggregate(  # noqa: E731
        F.col("__arr"), F.lit(0.0), lambda acc, y: acc + y[f])
    st = agg.select(
        "k_strata", "sum_a",
        fold("e").alias("__se"), fold("v").alias("__sv"),
        fold("ad").alias("__sad"), fold("bc").alias("__sbc"))
    diff = F.col("sum_a").cast("double") - F.col("__se")
    cmh = diff * diff / F.col("__sv")
    okv = F.col("__sv") > 0.0
    return st.select(
        "k_strata", "sum_a",
        F.when(okv, F.round(cmh, 9)).alias("cmh"),
        F.when(okv, normal_p_two_sided(F.sqrt(cmh))).alias("p"),
        F.when(F.col("__sbc") > 0.0,
               F.round(F.col("__sad") / F.col("__sbc"), 9))
        .alias("or_mh"))


def cmh_test_sql(table: str, stratum_expr: str, exposure_expr: str,
                 outcome_expr: str) -> str:
    """DuckDB mirror of :func:`cmh_test` — identical integer margins,
    stratum-sorted folds, and chains."""
    return f"""
    WITH s AS (
        SELECT {stratum_expr} AS h,
               CAST({exposure_expr} AS BIGINT) AS e,
               CAST({outcome_expr} AS BIGINT) AS o
        FROM {table}
    ),
    g0 AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(e * o) AS BIGINT) AS a,
               CAST(SUM(e) AS BIGINT) AS r1,
               CAST(SUM(o) AS BIGINT) AS c1
        FROM s GROUP BY h
    ),
    g AS (
        SELECT *, r1 - a AS b, c1 - a AS c, n - r1 - c1 + a AS d
        FROM g0 WHERE n >= 2
    ),
    cells AS (
        SELECT h, a,
               CAST(CAST(r1 * c1 AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS eh,
               CAST(CAST(r1 * (n - r1) AS DECIMAL(38,0))
                    * CAST(c1 * (n - c1) AS DECIMAL(38,0)) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) - 1.0)) AS vh,
               CAST(CAST(a * d AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS adh,
               CAST(CAST(b * c AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS bch
        FROM g
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
               CAST(SUM(a) AS BIGINT) AS sum_a,
               list_sort(list({{'h': h, 'e': eh, 'v': vh,
                                'ad': adh, 'bc': bch}})) AS arr
        FROM cells
    ),
    st AS (
        SELECT k_strata, sum_a,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, y -> y.e)), (p, q) -> p + q) AS se,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, y -> y.v)), (p, q) -> p + q) AS sv,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, y -> y.ad)), (p, q) -> p + q) AS sad,
               list_reduce(list_prepend(0.0,
                   list_transform(arr, y -> y.bc)), (p, q) -> p + q) AS sbc
        FROM agg
    )
    SELECT k_strata, sum_a,
           CASE WHEN sv > 0.0 THEN round(
               (CAST(sum_a AS DOUBLE) - se) * (CAST(sum_a AS DOUBLE) - se)
               / sv, 9) END AS cmh,
           CASE WHEN sv > 0.0 THEN {normal_p_two_sided_sql(
               'sqrt((CAST(sum_a AS DOUBLE) - se)'
               ' * (CAST(sum_a AS DOUBLE) - se) / sv)')} END AS p,
           CASE WHEN sbc > 0.0 THEN round(sad / sbc, 9) END AS or_mh
    FROM st
    """


def confseq_bounds_sql(
    inner_sql: str,
    keep_cols: str,
    alpha_permille: int = 50,
) -> str:
    """DuckDB text of :func:`confseq_bounds` over a relation exposing
    integer ``n_cum``/``s_cum`` — the same chain
    :func:`hoeffding_confseq_sql` inlines, factored for the streaming
    twin's final-state oracle.  ``keep_cols``: leading pass-through
    column list (e.g. ``"bucket"``)."""
    td = "CAST(n_cum AS DOUBLE)"
    lnln = f"round(ln(round(ln(2.0 * {td}), 9)), 9)"
    lna = f"round(ln(5200.0 / {float(alpha_permille)!r}e0), 9)"
    radius = f"(1.7 * sqrt(({lnln} + 0.72 * {lna}) / {td}))"
    rate = f"(CAST(s_cum AS DOUBLE) / {td})"
    return f"""
    SELECT {keep_cols}, n_cum, s_cum,
           CASE WHEN n_cum > 0 THEN {rate} END AS rate,
           CASE WHEN n_cum >= 2 THEN {radius} END AS radius,
           CASE WHEN n_cum >= 2 THEN
               GREATEST(0.0, {rate} - {radius}) END AS lo,
           CASE WHEN n_cum >= 2 THEN
               LEAST(1.0, {rate} + {radius}) END AS hi
    FROM ({inner_sql})
    """


# ---------------------------------------------------------------------------
# Siegel repeated-medians slope
# ---------------------------------------------------------------------------

def siegel_slope(
    df: DataFrame,
    value_col: str,
    time_col: str,
) -> DataFrame:
    """SIEGEL REPEATED-MEDIANS slope (Siegel, Biometrika 1982) — the
    50%-breakdown upgrade of :func:`theil_sen` (29%): for each time
    point take the median slope to every OTHER point, then the median
    of those per-point medians — so even when HALF the days are
    corrupted the line holds, where Theil-Sen's single pooled median
    already bends.

    Same input contract and exactness scheme as theil_sen: bounded
    T×T pair relation, each slope one correctly-rounded IEEE division,
    every median the fixed order-statistic rule (even count = mean of
    the two middles) over a SORTED bounded array — inner medians per
    anchor point, outer median over the sorted per-anchor medians,
    intercept = median of ``x_i − slope·t_i``.  n < 2 emits NULL.

    Output: one row ``(n, slope, intercept)``.  SQL mirror
    :func:`siegel_slope_sql`.
    """
    s = df.select(F.col(time_col).cast("bigint").alias("__t"),
                  F.col(value_col).cast("bigint").alias("__x"))
    a, b = s.alias("a"), s.alias("b")
    pairs = (a.join(b, F.col("b.__t") != F.col("a.__t"))
             .select(F.col("a.__t").alias("__at"),
                     ((F.col("b.__x") - F.col("a.__x")).cast("double")
                      / (F.col("b.__t") - F.col("a.__t")).cast("double"))
                     .alias("__s")))

    def med(arr_col):
        m = F.size(arr_col).cast("bigint")
        lo = ((m + 1) / 2).cast("bigint").cast("int")
        hi = (m / 2 + 1).cast("bigint").cast("int")
        return F.when(
            m > 0,
            (F.element_at(arr_col, lo) + F.element_at(arr_col, hi))
            / F.lit(2.0))

    per = (pairs.groupBy("__at")
           .agg(F.array_sort(F.collect_list("__s")).alias("__arr"))
           .select(med(F.col("__arr")).alias("__mi")))
    meds = per.agg(F.array_sort(F.collect_list("__mi")).alias("__marr"))
    base = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = base.crossJoin(F.broadcast(
        meds.select(med(F.col("__marr")).alias("slope"))))
    resid = (s.crossJoin(F.broadcast(j.select("slope")))
             .select((F.col("__x").cast("double")
                      - F.col("slope") * F.col("__t").cast("double"))
                     .alias("__r"))
             .agg(F.array_sort(F.collect_list("__r")).alias("__rarr")))
    return (j.crossJoin(F.broadcast(resid))
            .select("n",
                    F.when(F.col("n") > 1, F.col("slope")).alias("slope"),
                    F.when(F.col("n") > 1, med(F.col("__rarr")))
                    .alias("intercept")))


def siegel_slope_sql(table: str, value_expr: str, time_expr: str) -> str:
    """DuckDB mirror of :func:`siegel_slope` — identical divisions and
    order-statistic medians."""
    def med(arr):
        return (f"CASE WHEN len({arr}) > 0 THEN "
                f"({arr}[CAST((len({arr}) + 1) // 2 AS BIGINT)]"
                f" + {arr}[CAST(len({arr}) // 2 + 1 AS BIGINT)]) / 2.0 END")
    return f"""
    WITH s AS (
        SELECT CAST({time_expr} AS BIGINT) AS t,
               CAST({value_expr} AS BIGINT) AS x
        FROM {table}
    ),
    per AS (
        SELECT a.t AS at,
               list_sort(list(CAST(b.x - a.x AS DOUBLE)
                              / CAST(b.t - a.t AS DOUBLE))) AS arr
        FROM s a JOIN s b ON b.t != a.t
        GROUP BY a.t
    ),
    mi AS (SELECT {med('arr')} AS m FROM per),
    meds AS (SELECT list_sort(list(m)) AS marr FROM mi),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    j AS (SELECT n, {med('marr')} AS slope FROM base CROSS JOIN meds),
    r AS (
        SELECT list_sort(list(CAST(s.x AS DOUBLE)
                              - j.slope * CAST(s.t AS DOUBLE))) AS rarr
        FROM s CROSS JOIN j
    )
    SELECT n,
           CASE WHEN n > 1 THEN slope END AS slope,
           CASE WHEN n > 1 THEN {med('rarr')} END AS intercept
    FROM j CROSS JOIN r
    """


# ---------------------------------------------------------------------------
# Holm-Bonferroni step-down
# ---------------------------------------------------------------------------

def holm_adjust(
    df: DataFrame,
    p_col: str,
    key_col: str,
    alpha_permille: int = 50,
) -> DataFrame:
    """HOLM-BONFERRONI step-down FWER control (Holm 1979) — the
    family-wise companion to :func:`bh_fdr`: where BH bounds the
    expected FALSE-DISCOVERY FRACTION, Holm bounds the probability of
    even ONE false rejection — the guard for decisions where a single
    wrong call is expensive (blocking a source, flagging contamination)
    — uniformly more powerful than plain Bonferroni at the same
    guarantee.

    Same bounded-family machinery as bh_fdr: sort p ascending, reject
    ranks 1..k* where k* = (first i with p_(i) > α/(m−i+1)) − 1
    (all-pass ⇒ k* = m); adjusted p̃_(i) = max_{j≤i} min(1,
    (m−j+1)·p_(j)) via bounded prefix folds over per-rank term arrays.
    The threshold compare ``p·(m−i+1)·1000 ≤ α`` uses identical double
    ops on both engines; NULL p's are excluded from the family.

    Output: ``key, p, rank, m, p_adj, rejected``.  SQL mirror
    :func:`holm_adjust_sql`.
    """
    a = int(alpha_permille)
    d = (df.select(F.col(key_col).alias("k"),
                   F.col(p_col).cast("double").alias("p"))
         .where(F.col("p").isNotNull()))
    g = d.groupBy().agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("p").alias("p"), F.col("k").alias("k")))).alias("arr"))
    m = F.size("arr").cast("bigint")
    fail_at = F.aggregate(
        F.transform(F.col("arr"),
                    lambda x, i: F.when(
                        x["p"] * (m - i).cast("double") * F.lit(1000.0)
                        > F.lit(float(a)),
                        (i + 1).cast("bigint"))
                    .otherwise((m + 1).cast("bigint"))),
        F.lit((1 << 62)).cast("bigint"),
        lambda acc, v: F.least(acc, v))
    terms = F.transform(
        F.col("arr"),
        lambda x, i: F.least(F.lit(1.0),
                             (m - i).cast("double") * x["p"]))
    g2 = g.select(F.col("arr"), m.alias("m"),
                  F.least(fail_at, m + 1).alias("__fa"),
                  terms.alias("__terms"))
    padj = F.transform(
        F.col("__terms"),
        lambda t, i: F.aggregate(
            F.slice(F.col("__terms"), F.lit(1), i + 1),
            F.lit(0.0), lambda acc, y: F.greatest(acc, y)))
    rows = g2.select(
        "m", (F.col("__fa") - 1).alias("__kstar"),
        F.posexplode(F.arrays_zip(F.col("arr"), padj.alias("pa")))
        .alias("__i", "__x"))
    return rows.select(
        F.col("__x.arr.k").alias("key"), F.col("__x.arr.p").alias("p"),
        (F.col("__i") + 1).cast("bigint").alias("rank"), "m",
        F.col("__x.pa").alias("p_adj"),
        ((F.col("__i") + 1) <= F.col("__kstar")).alias("rejected"))


def holm_adjust_sql(
    hypotheses_sql: str,
    p_expr: str = "p",
    key_expr: str = "key",
    alpha_permille: int = 50,
) -> str:
    """DuckDB mirror of :func:`holm_adjust` over a hypotheses
    subquery."""
    a = int(alpha_permille)
    return f"""
    WITH h AS (
        SELECT {key_expr} AS k, CAST({p_expr} AS DOUBLE) AS p
        FROM ({hypotheses_sql}) WHERE {p_expr} IS NOT NULL
    ),
    g AS (SELECT list_sort(list({{'p': p, 'k': k}})) AS arr FROM h),
    s AS (
        SELECT CAST(len(arr) AS BIGINT) AS m, arr,
               LEAST(list_reduce(list_prepend(CAST(4611686018427387904
                       AS BIGINT),
                   list_transform(arr, (x, i) ->
                       CASE WHEN x.p
                                 * CAST(len(arr) - i + 1 AS DOUBLE)
                                 * 1000.0 > {float(a)!r}e0
                            THEN CAST(i AS BIGINT)
                            ELSE CAST(len(arr) + 1 AS BIGINT) END)),
                   (p, q) -> LEAST(p, q)),
                   CAST(len(arr) + 1 AS BIGINT)) AS fa,
               list_transform(arr, (x, i) -> LEAST(1.0,
                   CAST(len(arr) - i + 1 AS DOUBLE) * x.p)) AS terms
        FROM g
    )
    SELECT u.x.k AS key, u.x.p AS p,
           CAST(u.i AS BIGINT) AS rank, s.m,
           list_reduce(list_prepend(0.0, s.terms[1:u.i]),
                       (p, q) -> GREATEST(p, q)) AS p_adj,
           u.i <= s.fa - 1 AS rejected
    FROM s, LATERAL (SELECT unnest(arr) AS x,
                            unnest(range(1, len(arr) + 1)) AS i) u
    """
