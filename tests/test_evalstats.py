"""Tests for operators/evalstats.py — exact evaluation statistics.

Strategy (the repo's differential discipline): each operator is checked
against (a) a hand-computable case, (b) an independent pure-Python
reference on fixture-scale data, and (c) tie/degenerate edges the
formulas must handle (NULL on undefined, exact tie halves).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators import evalstats as E


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


# ---------------------------------------------------------------------------
# cum_below: the bucket decomposition under AUC, Spearman and the rank tests


def test_cum_below_equals_exclusive_window_sum(spark):
    """Every ``below_<c>`` equals the exclusive running sum of ``c`` over
    one (group, order) window, null as 0, on random distinct-value
    integer groups: negatives, a 2e8-wide range, a single-row group, and
    nbuckets small enough that many buckets carry mass."""
    import random

    from pyspark.sql.window import Window

    rng = random.Random(77)
    rows = []
    for g, lo, hi, n in [("u", -40, 40, 60), ("t", 0, 200, 90),
                         ("w", -10**8, 10**8, 41), ("one", 5, 5, 1)]:
        rows += [(g, v, rng.randint(0, 9), rng.randint(-50, 50))
                 for v in rng.sample(range(lo, hi + 1), n)]
    df = spark.createDataFrame(rows, "g string, v long, a long, b long")
    w = (Window.partitionBy("g").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, -1))
    below = [F.coalesce(F.sum(c).over(w), F.lit(0)).cast("bigint")
             .alias(f"below_{c}") for c in ("a", "b")]
    want = set(_rows(df.select("g", "v", *below),
                     "g", "v", "below_a", "below_b"))
    assert len(want) == len(rows)
    for nb in (4, 8192):
        got = _rows(E.cum_below(df, ["g"], "v", ["a", "b"], nbuckets=nb),
                    "g", "v", "below_a", "below_b")
        assert len(got) == len(rows) and set(got) == want, nb


# ---------------------------------------------------------------------------
# ROC-AUC


def test_roc_auc_hand_case(spark):
    # scores: pos {3, 2}, neg {1, 2} -> pairs: (3>1)=1, (3>2)=1,
    # (2>1)=1, (2==2)=0.5  => AUC = 3.5/4
    df = spark.createDataFrame(
        [(3, 1), (2, 1), (1, 0), (2, 0)], "s int, y int")
    [(auc, p, n)] = _rows(E.roc_auc(df, "s", "y"), "auc", "n_pos", "n_neg")
    assert (p, n) == (2, 2)
    assert auc == 3.5 / 4


def test_roc_auc_perfect_and_inverted(spark):
    df = spark.createDataFrame(
        [(10, 1), (9, 1), (1, 0), (2, 0)], "s int, y int")
    [(auc, _, _)] = _rows(E.roc_auc(df, "s", "y"), "auc", "n_pos", "n_neg")
    assert auc == 1.0
    inv = df.withColumn("y", F.lit(1) - F.col("y"))
    [(auc2, _, _)] = _rows(E.roc_auc(inv, "s", "y"), "auc", "n_pos", "n_neg")
    assert auc2 == 0.0


def test_roc_auc_degenerate_group_is_null(spark):
    df = spark.createDataFrame(
        [("a", 5, 1), ("a", 3, 1), ("b", 5, 1), ("b", 3, 0)],
        "g string, s int, y int")
    got = dict((g, a) for g, a in _rows(
        E.roc_auc(df, "s", "y", keys=("g",)), "g", "auc"))
    assert got["a"] is None          # no negatives: AUC undefined
    assert got["b"] == 1.0


def test_roc_auc_matches_python_reference(spark, tables):
    docs = tables["documents"]
    sdf = E.roc_auc(
        docs.withColumn("y", (F.col("lang") == "en").cast("int")),
        "n_chars", "y")
    [(auc, npos, nneg)] = _rows(sdf, "auc", "n_pos", "n_neg")
    rows = [(r["n_chars"], 1 if r["lang"] == "en" else 0)
            for r in docs.select("n_chars", "lang").collect()]
    pos = sorted(s for s, y in rows if y == 1)
    neg = sorted(s for s, y in rows if y == 0)
    num = 0.0
    import bisect
    for s in pos:
        num += bisect.bisect_left(neg, s)
        num += 0.5 * (bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s))
    assert (npos, nneg) == (len(pos), len(neg))
    assert auc == pytest.approx(num / (len(pos) * len(neg)), abs=1e-12)


# ---------------------------------------------------------------------------
# Spearman


def test_spearman_monotone_is_one(spark):
    df = spark.createDataFrame(
        [(i, i * i) for i in range(1, 30)], "x int, y int")
    [(rho, n)] = _rows(E.spearman_rho(df, "x", "y"), "rho", "n")
    assert n == 29
    assert rho == pytest.approx(1.0, abs=1e-12)
    dec = df.withColumn("y", -F.col("y"))
    [(rho2, _)] = _rows(E.spearman_rho(dec, "x", "y"), "rho", "n")
    assert rho2 == pytest.approx(-1.0, abs=1e-12)


def test_spearman_ties_match_scipy_formula(spark):
    # hand data with ties in both columns; reference = Pearson over
    # tie-averaged ranks computed in pure Python
    data = [(1, 2), (2, 2), (2, 3), (3, 1), (3, 3), (4, 4), (4, 4), (5, 0)]
    df = spark.createDataFrame(data, "x int, y int")
    [(rho, n)] = _rows(E.spearman_rho(df, "x", "y"), "rho", "n")

    def avg_ranks(vals):
        s = sorted(vals)
        return [(s.index(v) + 1 + (len(s) - 1 - s[::-1].index(v) + 1)) / 2
                for v in vals]

    ax, ay = avg_ranks([x for x, _ in data]), avg_ranks([y for _, y in data])
    m = len(data)
    mx, my = sum(ax) / m, sum(ay) / m
    cov = sum((a - mx) * (b - my) for a, b in zip(ax, ay))
    sx = math.sqrt(sum((a - mx) ** 2 for a in ax))
    sy = math.sqrt(sum((b - my) ** 2 for b in ay))
    assert n == m
    assert rho == pytest.approx(cov / (sx * sy), abs=1e-12)


def test_avg_rank2_exact_ties(spark):
    df = spark.createDataFrame([(10,), (20,), (20,), (30,)], "v int")
    got = sorted(_rows(E.avg_rank2(df, "v"), "v", "r2"))
    # avg ranks: 1, 2.5, 2.5, 4 -> doubled: 2, 5, 5, 8
    assert got == [(10, 2), (20, 5), (20, 5), (30, 8)]


# ---------------------------------------------------------------------------
# Cohen's kappa


def test_kappa_perfect_and_independent(spark):
    same = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("a", "a"), ("c", "c")], "x string, y string")
    [(k, n, agree)] = _rows(E.cohens_kappa(same, "x", "y"), "kappa", "n", "agree")
    assert (k, n, agree) == (1.0, 4, 4)
    # single label on both sides -> pe = 1 -> undefined
    const = spark.createDataFrame([("a", "a")] * 3, "x string, y string")
    [(k2, _, _)] = _rows(E.cohens_kappa(const, "x", "y"), "kappa", "n", "agree")
    assert k2 is None


def test_kappa_hand_case(spark):
    # classic 2x2: a=20 agree-yes, d=15 agree-no, b=5, c=10
    rows = ([("y", "y")] * 20 + [("n", "n")] * 15
            + [("y", "n")] * 5 + [("n", "y")] * 10)
    df = spark.createDataFrame(rows, "x string, y string")
    [(k, n, agree)] = _rows(E.cohens_kappa(df, "x", "y"), "kappa", "n", "agree")
    po = 35 / 50
    pe = (25 / 50) * (30 / 50) + (25 / 50) * (20 / 50)
    assert (n, agree) == (50, 35)
    assert k == pytest.approx((po - pe) / (1 - pe), abs=1e-12)


# ---------------------------------------------------------------------------
# Chao1 / Good-Turing


def test_chao1_hand_case(spark):
    # terms: a x1, b x1, c x2, d x3  -> D=4, N=7, f1=2, f2=1
    occ = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("c",), ("d",), ("d",), ("d",)], "t string")
    [(d, tot, f1, f2, chao1, p0)] = _rows(
        E.chao1_richness(occ, "t"),
        "distinct_terms", "total_tokens", "f1", "f2", "chao1",
        "gt_unseen_mass")
    assert (d, tot, f1, f2) == (4, 7, 2, 1)
    assert chao1 == 4 + (2 * 1) / (2 * 2)
    assert p0 == 2 / 7


def test_chao1_no_doubletons_defined(spark):
    occ = spark.createDataFrame([("a",), ("b",)], "t string")
    [(chao1,)] = _rows(E.chao1_richness(occ, "t"), "chao1")
    # bias-corrected form stays finite when f2 = 0
    assert chao1 == 2 + (2 * 1) / 2


# ---------------------------------------------------------------------------
# two-proportion z-test


def test_ztest_hand_case(spark):
    # group A: 30/100, group B: 20/100
    rows = ([("A", 1)] * 30 + [("A", 0)] * 70
            + [("B", 1)] * 20 + [("B", 0)] * 80)
    df = spark.createDataFrame(rows, "g string, s int")
    got = dict((g, (n, x, r, z)) for g, n, x, r, z in _rows(
        E.two_proportion_ztest(df, "g", "s"), "g", "n", "successes",
        "rate", "z"))
    phat = 50 / 200
    se = math.sqrt(phat * (1 - phat) * (1 / 100 + 1 / 100))
    assert got["A"][:3] == (100, 30, 0.3)
    assert got["A"][3] == pytest.approx((0.30 - 0.20) / se, abs=1e-12)
    assert got["B"][3] == pytest.approx((0.20 - 0.30) / se, abs=1e-12)


def test_ztest_degenerate_null(spark):
    # one group only (n_rest = 0) and all-success pool -> NULL z
    df = spark.createDataFrame([("A", 1), ("A", 1)], "g string, s int")
    [(z,)] = _rows(E.two_proportion_ztest(df, "g", "s"), "z")
    assert z is None


# ---------------------------------------------------------------------------
# scale shape: no global-order windows in the rank statistics


def test_rank_stats_plans_have_no_global_sort(spark, tables):
    from map_reduce_folds_spark import plans

    docs = tables["documents"]
    auc = E.roc_auc(
        docs.withColumn("y", (F.col("lang") == "en").cast("int")),
        "n_chars", "y", keys=("source",))
    rho = E.spearman_rho(
        tables["lineitem"], "l_quantity", "l_partkey",
        keys=("l_returnflag",))
    for df in (auc, rho):
        findings = [f for f in plans.scale_audit(df)
                    if "global-order Window" in f]
        assert findings == [], findings


# ---------------------------------------------------------------------------
# calibration (ECE / Brier)


def test_calibration_perfect_and_worst(spark):
    # perfectly calibrated at bin granularity: p=1e6 & y=1, p=0 & y=0
    good = spark.createDataFrame(
        [(1_000_000, 1)] * 4 + [(0, 0)] * 4, "p long, y int")
    [(n, ece, brier)] = _rows(
        E.calibration_report(good, "p", "y"), "n", "ece", "brier")
    assert (n, ece, brier) == (8, 0.0, 0.0)
    # anti-calibrated: p=1e6 & y=0
    bad = spark.createDataFrame([(1_000_000, 0)] * 4, "p long, y int")
    [(_, ece2, brier2)] = _rows(
        E.calibration_report(bad, "p", "y"), "n", "ece", "brier")
    assert (ece2, brier2) == (1.0, 1.0)


def test_calibration_hand_case(spark):
    # one bin [0.4, 0.5): p = 450000 x2, y = 1, 0 -> mean p 0.45, mean y 0.5
    # ECE = |0.45 - 0.5| * (2/2) = 0.05 ; Brier = ((0.55)^2+(0.45)^2)/2
    df = spark.createDataFrame(
        [(450_000, 1), (450_000, 0)], "p long, y int")
    [(ece, brier)] = _rows(E.calibration_report(df, "p", "y"), "ece", "brier")
    assert ece == pytest.approx(0.05, abs=1e-15)
    assert brier == pytest.approx((0.55 ** 2 + 0.45 ** 2) / 2, abs=1e-15)


# ---------------------------------------------------------------------------
# Mann-Whitney z


def test_mannwhitney_matches_scipy_formula(spark):
    # reference: normal-approximation z with tie correction, pure Python
    data = [(1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (4, 1), (5, 1), (5, 0),
            (6, 1), (7, 1)]
    df = spark.createDataFrame(data, "s int, y int")
    [(auc, z, p, nn)] = _rows(
        E.mannwhitney_z(df, "s", "y"), "auc", "z", "n_pos", "n_neg")
    import collections
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    u = sum((1.0 if sp > sn else 0.5 if sp == sn else 0.0)
            for sp in pos for sn in neg)
    n = len(data)
    t3 = sum(t ** 3 - t for t in collections.Counter(
        s for s, _ in data).values())
    var_u = (len(pos) * len(neg) / 12) * ((n + 1) - t3 / (n * (n - 1)))
    zref = (u - len(pos) * len(neg) / 2) / math.sqrt(var_u)
    assert (p, nn) == (len(pos), len(neg))
    assert auc == pytest.approx(u / (len(pos) * len(neg)), abs=1e-12)
    assert z == pytest.approx(zref, abs=1e-12)


def test_mannwhitney_degenerate(spark):
    # all scores tied -> variance 0 -> NULL z; single-class -> NULL both
    tied = spark.createDataFrame([(5, 1), (5, 0), (5, 1)], "s int, y int")
    [(auc, z)] = _rows(E.mannwhitney_z(tied, "s", "y"), "auc", "z")
    assert auc == 0.5 and z is None
    onecls = spark.createDataFrame([(1, 1), (2, 1)], "s int, y int")
    [(auc2, z2)] = _rows(E.mannwhitney_z(onecls, "s", "y"), "auc", "z")
    assert auc2 is None and z2 is None


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence


def test_jsd_identical_and_disjoint(spark):
    # one group == corpus -> jsd 0; two disjoint-vocab groups -> each
    # group's JSD vs the pooled corpus is strictly between 0 and ln 2
    one = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("s", "a")], "g string, t string")
    [(jsd, _, _)] = _rows(
        E.js_divergence_by_group(one, "g", "t"), "jsd", "n_terms", "n_tokens")
    assert jsd == 0.0
    two = spark.createDataFrame(
        [("s1", "a")] * 3 + [("s2", "b")] * 3, "g string, t string")
    got = dict((g, j) for g, j in _rows(
        E.js_divergence_by_group(two, "g", "t"), "g", "jsd"))
    # each source has half the corpus mass on its own token:
    # p=1, q=1/2, m=3/4; JSD = 0.5*[ln(4/3)+0.5*ln(2/3)] + 0.5*ln2*0.5
    ref = 0.5 * (math.log(4 / 3) + 0.5 * math.log(2 / 3)) \
        + 0.5 * math.log(2) * 0.5
    assert got["s1"] == pytest.approx(ref, abs=1e-9)
    assert got["s2"] == pytest.approx(ref, abs=1e-9)


def test_jsd_matches_python_reference(spark, tables):
    import collections

    docs = tables["documents"]
    occ = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    got = dict((g, j) for g, j in _rows(
        E.js_divergence_by_group(occ, "source", "tok"), "source", "jsd"))
    rows = [(r["source"], r["tok"]) for r in occ.collect()]
    corpus = collections.Counter(t for _, t in rows)
    n = sum(corpus.values())
    by_src = collections.defaultdict(collections.Counter)
    for s, t in rows:
        by_src[s][t] += 1
    for s, cnt in by_src.items():
        ns = sum(cnt.values())
        jsd = 0.0
        for t, c in cnt.items():
            p, q = c / ns, corpus[t] / n
            m = (p + q) / 2
            jsd += 0.5 * (p * math.log(p / m) + q * math.log(q / m))
        cov = sum(corpus[t] / n for t in cnt)
        jsd += 0.5 * math.log(2) * (1 - cov)
        assert got[s] == pytest.approx(jsd, abs=1e-9), s


# ---------------------------------------------------------------------------
# chi-square / Cramér's V / mutual information


def test_chi2_independent_is_zero(spark):
    # perfectly independent 2x2 (equal cells) -> chi2 = 0, V = 0
    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 5
    df = spark.createDataFrame(rows, "u string, v string")
    [(chi2, v, dof, n)] = _rows(
        E.chi2_independence(df, "u", "v"), "chi2", "cramers_v", "dof", "n")
    assert (dof, n) == (1, 20)
    assert chi2 == pytest.approx(0.0, abs=1e-9)
    assert v == pytest.approx(0.0, abs=1e-9)


def test_chi2_hand_case_and_degenerate(spark):
    # 2x2 with counts [[10, 20], [20, 10]]: chi2 = n*(sum c^2/(r*k) - 1)
    rows = ([("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 20 + [("b", "y")] * 10)
    df = spark.createDataFrame(rows, "u string, v string")
    [(chi2, v, dof, n)] = _rows(
        E.chi2_independence(df, "u", "v"), "chi2", "cramers_v", "dof", "n")
    s = (100 / (30 * 30) + 400 / (30 * 30) + 400 / (30 * 30)
         + 100 / (30 * 30))
    assert chi2 == pytest.approx(60 * (s - 1), abs=1e-9)
    assert v == pytest.approx(math.sqrt(60 * (s - 1) / 60), abs=1e-9)
    # single category on one side -> dof 0, NULL stats
    deg = spark.createDataFrame([("a", "x"), ("a", "y")], "u string, v string")
    [(c2, v2, d2, _)] = _rows(
        E.chi2_independence(deg, "u", "v"), "chi2", "cramers_v", "dof", "n")
    assert (c2, v2, d2) == (None, None, 0)


def test_mutual_information_cases(spark):
    # independent -> MI 0; identical columns -> MI = H, NMI = 1
    ind = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 3,
        "u string, v string")
    [(mi, nmi, _)] = _rows(E.mutual_information(ind, "u", "v"), "mi", "nmi", "n")
    assert mi == pytest.approx(0.0, abs=1e-9)
    assert nmi == pytest.approx(0.0, abs=1e-9)
    same = spark.createDataFrame(
        [("a", "a")] * 3 + [("b", "b")] * 1, "u string, v string")
    [(mi2, nmi2, _)] = _rows(
        E.mutual_information(same, "u", "v"), "mi", "nmi", "n")
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert mi2 == pytest.approx(h, abs=1e-9)
    assert nmi2 == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# classification report


def test_classification_report_hand_case(spark):
    # truth: a,a,a,b,b,c  pred: a,a,b,b,b,a
    rows = [("a", "a"), ("a", "a"), ("a", "b"),
            ("b", "b"), ("b", "b"), ("c", "a")]
    df = spark.createDataFrame(rows, "t string, p string")
    got = {r["label"]: r.asDict() for r in
           E.classification_report(df, "t", "p").collect()}
    assert got["a"]["tp"] == 2 and got["a"]["fp"] == 1 and got["a"]["fn"] == 1
    assert got["a"]["precision"] == 2 / 3
    assert got["a"]["recall"] == 2 / 3
    assert got["a"]["f1"] == 4 / 6
    # class c: never predicted -> precision NULL, recall 0
    assert got["c"]["precision"] is None
    assert got["c"]["recall"] == 0.0
    # class only in predictions appears too
    rows2 = [("a", "zz")]
    got2 = {r["label"]: r.asDict() for r in
            E.classification_report(
                spark.createDataFrame(rows2, "t string, p string"),
                "t", "p").collect()}
    assert got2["zz"]["fp"] == 1 and got2["zz"]["recall"] is None


# ---------------------------------------------------------------------------
# mergeable AUC moments


def test_auc_moments_merge_equals_batch(spark, tables):
    docs = tables["documents"].withColumn(
        "y", (F.col("lang") == "en").cast("int"))
    batch = E.roc_auc(docs, "n_chars", "y", keys=("source",))
    parts = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    moments = [E.auc_moment_relation(p, "n_chars", "y", keys=("source",))
               for p in parts]
    inc = E.auc_from_moments(E.auc_moment_merge(*moments), keys=("source",))
    a = sorted(map(tuple, batch.collect()))
    b = sorted(map(tuple, inc.collect()))
    assert a == b  # bitwise: the monoid merge is exact


# ---------------------------------------------------------------------------
# trigram substring search (text.py, tested here with the eval wave)


def test_trigram_search_equals_bruteforce(spark, tables):
    from map_reduce_folds_spark.operators import text as T

    docs = tables["documents"]
    for pat in ("batch stream", "dup", "spark window", "zz-not-there"):
        fast = sorted(r["doc_id"] for r in
                      T.trigram_search(docs, "doc_id", "text", pat)
                      .select("doc_id").collect())
        slow = sorted(r["doc_id"] for r in
                      docs.where(F.col("text").contains(F.lit(pat)))
                      .select("doc_id").collect())
        assert fast == slow, pat


def test_trigram_candidates_are_lossless_superset(spark, tables):
    from map_reduce_folds_spark.operators import text as T

    docs = tables["documents"]
    pat = "batch stream"
    post = T.trigram_postings(docs, "doc_id", "text")
    pgrams = list(dict.fromkeys(
        pat[i:i + 3] for i in range(len(pat) - 2)))[:8]
    cands = set(r["doc_id"] for r in post
                .where(F.col("gram").isin(pgrams))
                .groupBy("doc_id")
                .agg(F.count_distinct("gram").alias("ng"))
                .where(F.col("ng") == len(pgrams)).collect())
    truth = set(r["doc_id"] for r in
                docs.where(F.col("text").contains(F.lit(pat))).collect())
    assert truth <= cands
    # and the filter actually prunes (candidates << corpus)
    assert len(cands) < docs.count()


def test_trigram_short_pattern_fallback_and_quote_escape(spark):
    from map_reduce_folds_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "ab"), (2, "xaby"), (3, "no")], "id long, text string")
    got = sorted(r["id"] for r in
                 T.trigram_search(df, "id", "text", "ab").collect())
    assert got == [1, 2]
    sql = T.trigram_search_sql("t", "text", "o'brien")
    assert "'o''brien'" in sql


# ---------------------------------------------------------------------------
# Holt-Winters (windows.py, tested with this session's wave)


def test_holtwinters_matches_python_fold(spark):
    from map_reduce_folds_spark.operators.windows import holtwinters_last

    xs = [5.0, 9.0, 2.0, 7.0, 6.0, 10.0, 3.0, 8.0, 6.5, 9.5]
    m, a, b, g = 4, 0.25, 0.25, 0.25
    df = spark.createDataFrame(
        [(1, i, float(x)) for i, x in enumerate(xs)],
        "k int, ts long, x double").selectExpr(
        "k", "timestamp '2024-01-01' + ts * interval 1 second as ts", "x")
    [(n, lvl, tr, sn, fc)] = [
        (r["n_events"], r["level"], r["trend"], r["season_next"],
         r["forecast"])
        for r in holtwinters_last(df, "k", "ts", "x", period=m,
                                  horizon=1).collect()]
    l, t, s = xs[0], 0.0, [0.0] * m
    for i, x in enumerate(xs[1:], start=1):
        j = i % m
        lnew = a * (x - s[j]) + (1 - a) * (l + t)
        tnew = b * (a * ((x - s[j]) - l) + (1 - a) * t) + (1 - b) * t
        s[j] = g * (x - lnew) + (1 - g) * s[j]
        l, t = lnew, tnew
    assert n == len(xs)
    assert lvl == l and tr == t
    assert sn == s[len(xs) % m]
    assert fc == (l + 1.0 * t) + s[len(xs) % m]


def test_holtwinters_learns_planted_season(spark):
    from map_reduce_folds_spark.operators.windows import holtwinters_last

    # pure period-4 signal, many cycles: seasonal slots must order like
    # the planted pattern and the forecast must beat the level alone
    pat = [0.0, 10.0, 20.0, 5.0]
    rows = [(1, i, pat[i % 4]) for i in range(80)]
    df = spark.createDataFrame(rows, "k int, ts long, x double").selectExpr(
        "k", "timestamp '2024-01-01' + ts * interval 1 second as ts", "x")
    [(sn, fc, lvl)] = [(r["season_next"], r["forecast"], r["level"])
                       for r in holtwinters_last(
                           df, "k", "ts", "x", period=4, horizon=1).collect()]
    truth = pat[80 % 4]          # the next step's value
    assert abs(fc - truth) < abs(lvl - truth)


def test_holtwinters_guards(spark):
    from map_reduce_folds_spark.operators.windows import holtwinters_last

    df = spark.createDataFrame([(1, 1, 1.0)], "k int, ts long, x double")
    with pytest.raises(ValueError):
        holtwinters_last(df, "k", "ts", "x", period=1)
    with pytest.raises(ValueError):
        holtwinters_last(df, "k", "ts", "x", period=4, gamma_halves=0)


# ---------------------------------------------------------------------------
# Neyman allocation (sampling.py, tested with this session's wave)


def test_neyman_budget_and_optimality_shape(spark):
    from map_reduce_folds_spark.operators.sampling import neyman_sample

    # three strata: same size, very different variance -> allocation
    # must order by sigma and sum exactly to the budget
    import random
    random.seed(7)
    rows = ([("flat", i, 100) for i in range(200)]
            + [("mid", 1000 + i, 100 + (i % 21) * 5) for i in range(200)]
            + [("wild", 2000 + i, (i * 37) % 1000) for i in range(200)])
    df = spark.createDataFrame(rows, "g string, id long, v long")
    picked = neyman_sample(df, "g", "v", 90, "id")
    counts = {r["g"]: r["n"] for r in
              picked.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 90
    # zero-variance stratum gets (almost) nothing; wild gets the most
    assert counts.get("flat", 0) <= 1
    assert counts["wild"] > counts["mid"] > 50 - counts["wild"] // 2 - 60  # wild dominates
    assert counts["wild"] + counts["mid"] >= 89


def test_neyman_caps_at_stratum_size_and_is_deterministic(spark):
    from map_reduce_folds_spark.operators.sampling import neyman_sample

    rows = ([("tiny", i, i * 97) for i in range(5)]
            + [("big", 100 + i, 50) for i in range(100)])
    df = spark.createDataFrame(rows, "g string, id long, v long")
    p1 = sorted(r["id"] for r in neyman_sample(df, "g", "v", 50, "id").collect())
    p2 = sorted(r["id"] for r in neyman_sample(df, "g", "v", 50, "id").collect())
    assert p1 == p2  # same-seed determinism
    counts = {}
    for r in neyman_sample(df, "g", "v", 50, "id").collect():
        counts[r["g"]] = counts.get(r["g"], 0) + 1
    # all weight sits on 'tiny' (big is constant): target > 5 but the
    # realized draw caps at the stratum size
    assert counts["tiny"] == 5


def test_trigram_search_many_equals_bruteforce(spark, tables):
    from map_reduce_folds_spark.operators import text as T

    docs = tables["documents"]
    pats = spark.createDataFrame(
        [("batch stream",), ("dup",), ("no-such-phrase-xx",), ("ab",)],
        "pattern string")
    got = sorted((r["pattern"], r["doc_id"]) for r in
                 T.trigram_search_many(docs, "doc_id", "text", pats)
                 .collect())
    want = []
    for p in ("batch stream", "dup"):   # >= 3 chars only; 'ab' filtered
        want += [(p, r["doc_id"]) for r in
                 docs.where(F.col("text").contains(F.lit(p)))
                 .select("doc_id").collect()]
    assert got == sorted(want)


def test_kaplan_meier_hand_case(spark):
    """Textbook case — durations (1e, 2c, 3e, 3e, 4c, 5e):
    S(1) = 5/6; S(3) = 5/6 * (1 - 2/4); S(5) = that * (1 - 1/1) = 0."""
    subj = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0), (5, 1)],
        "duration bigint, event int")
    rows = {r["duration"]: r
            for r in E.kaplan_meier(subj, "duration", "event").collect()}
    assert set(rows) == {1, 3, 5}
    assert (rows[1]["n_risk"], rows[1]["n_events"]) == (6, 1)
    assert (rows[3]["n_risk"], rows[3]["n_events"]) == (4, 2)
    assert (rows[5]["n_risk"], rows[5]["n_events"]) == (1, 1)
    import math
    t = lambda d, n: round(math.log(1.0 - d / n), 9)  # noqa: E731
    assert rows[1]["survival"] == round(math.exp(t(1, 6)), 9)
    assert rows[3]["survival"] == round(math.exp(t(1, 6) + t(2, 4)), 9)
    assert rows[5]["survival"] == 0.0


def test_kaplan_meier_all_censored_and_grouped(spark):
    """A group with zero events emits no rows; grouped curves are
    independent (keys thread through)."""
    subj = spark.createDataFrame(
        [("a", 2, 0), ("a", 3, 0),
         ("b", 1, 1), ("b", 2, 1)],
        "g string, duration bigint, event int")
    out = E.kaplan_meier(subj, "duration", "event", keys=["g"]).collect()
    gs = {(r["g"], r["duration"]): r for r in out}
    assert all(r["g"] == "b" for r in out)
    assert gs[("b", 1)]["survival"] == 0.5
    assert gs[("b", 2)]["survival"] == 0.0  # last subject exits: d = n


def test_anova_f_hand_case(spark):
    """Three groups with a planted mean shift: F matches the textbook
    formula computed longhand; identical groups give F near 0."""
    rows = [("a", v) for v in (1, 2, 3)] + \
           [("b", v) for v in (2, 3, 4)] + \
           [("c", v) for v in (8, 9, 10)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    r = E.anova_f(df, "x", "g").collect()[0]
    # longhand: group sums 6, 9, 27; n_g = 3; S = 42, n = 9
    T = 36.0 / 3 + 81.0 / 3 + 729.0 / 3
    grand = 42.0 * 42.0 / 9
    q = sum(v * v for _, v in rows)
    ssb, ssw = T - grand, q - T
    assert (r["k"], r["n"]) == (3, 9)
    assert r["ssb"] == ssb and r["ssw"] == ssw
    assert r["f"] == (ssb / 2) / (ssw / 6)
    flat = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 5), ("b", 7)], "g string, x bigint")
    rf = E.anova_f(flat, "x", "g").collect()[0]
    assert rf["f"] == 0.0 or abs(rf["f"]) < 1e-12


def test_anova_f_degenerate_null(spark):
    """k = 1 and zero within-group variance both emit NULL F."""
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, x bigint")
    assert E.anova_f(one, "x", "g").collect()[0]["f"] is None
    const = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 9), ("b", 9)], "g string, x bigint")
    assert E.anova_f(const, "x", "g").collect()[0]["f"] is None


def test_logrank_identical_groups_z_zero(spark):
    """Two cohorts with identical duration/event profiles: O1 = E1
    exactly, so z = 0 (V > 0)."""
    rows = [(g, d, e) for g in (0, 1)
            for d, e in [(1, 1), (2, 1), (3, 0), (4, 1)]]
    df = spark.createDataFrame(rows, "grp int, duration bigint, event int")
    r = E.logrank_test(df, "duration", "event", "grp").collect()[0]
    assert r["o1"] == 3
    assert r["e1"] == 3.0
    assert r["z"] == 0.0 and r["chi2"] == 0.0


def test_logrank_hand_case(spark):
    """Longhand two-time case: group 1 = (1e, 2c), group 0 = (2e, 2e).
    t=1: n=4, n1=2, d=1, d1=1 -> E1 += 0.5, V += 1*(0.5)*(0.5)*(3/3).
    t=2: n=3, n1=1, d=2, d1=0 -> E1 += 2/3, V += 2*(1/3)*(2/3)*(1/2)."""
    df = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 0), (0, 2, 1), (0, 2, 1)],
        "grp int, duration bigint, event int")
    r = E.logrank_test(df, "duration", "event", "grp").collect()[0]
    e1 = 1.0 * (2.0 / 4.0) + 2.0 * (1.0 / 3.0)
    v = (1.0 * (2.0 / 4.0) * (1.0 - 2.0 / 4.0) * 3.0 / 3.0
         + 2.0 * (1.0 / 3.0) * (1.0 - 1.0 / 3.0) * 1.0 / 2.0)
    assert r["o1"] == 1
    assert abs(r["e1"] - e1) < 1e-15
    assert abs(r["v"] - v) < 1e-15
    assert r["z"] == (1.0 - r["e1"]) / math.sqrt(r["v"])


def test_logrank_single_cohort_null(spark):
    """All subjects in one group: V = 0 -> NULL z."""
    df = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 1)], "grp int, duration bigint, event int")
    r = E.logrank_test(df, "duration", "event", "grp").collect()[0]
    assert r["z"] is None and r["chi2"] is None


def test_trimmed_mean_hand_case(spark):
    """10 values with two outliers, 10% trim each side drops exactly
    the min and max; winsorized clamps them to the cut values."""
    vals = [1, 5, 6, 6, 7, 7, 8, 8, 9, 1000]
    df = spark.createDataFrame([(v,) for v in vals], "x bigint")
    r = E.trimmed_mean(df, "x", trim_permille=100).collect()[0]
    assert r["n"] == 10
    assert r["mean"] == sum(vals) / 10.0
    kept = sorted(vals)[1:-1]
    assert r["trimmed_mean"] == sum(kept) / len(kept)
    wins = [5] + kept + [9]
    assert r["winsor_mean"] == sum(wins) / 10.0


def test_trimmed_mean_ties_and_degenerate(spark):
    """Cut falling inside a tie block keeps the right multiplicity;
    trimming everything emits NULL robust means."""
    df = spark.createDataFrame(
        [(2,), (2,), (2,), (2,), (9,)], "x bigint")
    # n=5, 20% trim -> k=1: drop one 2 and the 9 -> mean of (2,2,2)
    r = E.trimmed_mean(df, "x", trim_permille=200).collect()[0]
    assert r["trimmed_mean"] == 2.0
    # winsor: kept (2,2,2) + clamp lo 2*1 + clamp hi 2? vhi = max v with
    # below < n-k=4 -> v=2 (below of 9 is 4, excluded) -> 2
    assert r["winsor_mean"] == (2 + 2 + 2 + 2 + 2) / 5.0
    tiny = spark.createDataFrame([(1,), (9,)], "x bigint")
    rt = E.trimmed_mean(tiny, "x", trim_permille=500).collect()[0]
    assert rt["trimmed_mean"] is None and rt["winsor_mean"] is None


def test_rmst_hand_case(spark):
    """Durations (1e, 2c, 3e) with horizon 4: S=1 on [0,1), S(1)=2/3 on
    [1,3), S(3)=0 beyond (d=n at t=3 among remaining... n=1 at t=3) —
    wait: risk sets are n=3,2,1; S(1)=2/3, S(3)=2/3*(1-1/1)=0.
    RMST = 1*1 + (2/3 rounded chain)*(3-1) + 0*(4-3)."""
    import math
    subj = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1)], "duration bigint, event int")
    r = E.restricted_mean_survival(subj, "duration", "event", 4).collect()[0]
    s1 = round(math.exp(round(math.log(1.0 - 1.0 / 3.0), 9)), 9)
    # steps at t=1 (S=s1), t=2 censor (S=s1), t=3 (S=0); head = min(4,1)
    expected = 1.0 + s1 * (2 - 1) + s1 * (3 - 2) + 0.0 * (4 - 3)
    assert r["rmst"] == expected
    assert r["horizon"] == 4


def test_rmst_horizon_clamps(spark):
    """Events past the horizon contribute nothing; an all-surviving
    group integrates S=1 across the whole window."""
    subj = spark.createDataFrame(
        [(10, 1), (12, 1)], "duration bigint, event int")
    r = E.restricted_mean_survival(subj, "duration", "event", 5).collect()[0]
    assert r["rmst"] == 5.0
    cens = spark.createDataFrame(
        [(8, 0), (9, 0)], "duration bigint, event int")
    rc = E.restricted_mean_survival(cens, "duration", "event", 6).collect()[0]
    assert rc["rmst"] == 6.0


def test_wasserstein1_hand_case(spark):
    """Two groups: a=(1,1,3), b=(2,4).  Pooled=(1,1,2,3,4), n=5.
    W1(a, pooled) computed longhand over pooled distinct values."""
    rows = [("a", 1), ("a", 1), ("a", 3), ("b", 2), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    out = {r["grp"]: r for r in
           E.wasserstein1_by_group(df, "x", "g").collect()}
    # group a: inc_a at v=1,2,3,4 -> 2,2,3,3 (n=3); pooled inc -> 2,3,4,5
    # terms |inc_a*5 - inc_p*3| * gap: v=1:|10-6|*1=4; v=2:|10-9|*1=1;
    # v=3:|15-12|*1=3; v=4 gap 0.
    assert out["a"]["n"] == 3 and out["a"]["n_all"] == 5
    assert out["a"]["w1"] == (4 + 1 + 3) / (3.0 * 5.0)
    # group b: inc_b -> 0,1,1,2 (n=2); terms |0-4|,|5-6|,|5-8| -> 4,1,3
    assert out["b"]["w1"] == (4 + 1 + 3) / (2.0 * 5.0)


def test_wasserstein1_identical_distribution_zero(spark):
    """A group that IS the pooled distribution has W1 = 0 against it
    (two identical groups)."""
    rows = [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    for r in E.wasserstein1_by_group(df, "x", "g").collect():
        assert r["w1"] == 0.0


def test_quantile_normalize_properties(spark):
    """The map is monotone in v within each group, ties map
    identically (it IS a per-(group,value) map), and a group whose
    distribution equals the pooled marginal maps to itself."""
    rows = [("a", v) for v in (1, 2, 3, 4)] + \
           [("b", v) for v in (10, 20, 30, 40)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    out = E.quantile_normalize(df, "x", "g").collect()
    m = {(r["grp"], r["v"]): r["v_norm"] for r in out}
    # monotone within each group
    a_vals = [m[("a", v)] for v in (1, 2, 3, 4)]
    assert a_vals == sorted(a_vals)
    b_vals = [m[("b", v)] for v in (10, 20, 30, 40)]
    assert b_vals == sorted(b_vals)
    # rank alignment: the k-th value of each group maps to the same
    # pooled value (both groups have n_g = 4, N = 8 -> k = 2i)
    pooled = sorted([1, 2, 3, 4, 10, 20, 30, 40])
    for i, (va, vb) in enumerate(zip((1, 2, 3, 4), (10, 20, 30, 40)), 1):
        assert m[("a", va)] == m[("b", vb)] == pooled[2 * i - 1]
    # identical groups: map is the identity
    same = spark.createDataFrame(
        [("a", v) for v in (5, 6, 7)] + [("b", v) for v in (5, 6, 7)],
        "g string, x bigint")
    for r in E.quantile_normalize(same, "x", "g").collect():
        assert r["v_norm"] == r["v"]


def test_brown_forsythe_hand_case(spark):
    """Equal-spread groups give W near 0; a planted wide group gives a
    large W; the center is the type-1 (lower) median so deviations are
    integers."""
    same = spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 9), ("b", 11), ("b", 15), ("b", 19)],
        "g string, x bigint")
    r = E.brown_forsythe(same, "x", "g").collect()[0]
    assert r["f"] == 0.0  # identical deviation profiles (4,0,4)
    wide = spark.createDataFrame(
        [("a", 5), ("a", 5), ("a", 5), ("a", 5),
         ("b", 0), ("b", 100), ("b", 0), ("b", 100)],
        "g string, x bigint")
    rw = E.brown_forsythe(wide, "x", "g").collect()[0]
    # deviations a=(0,0,0,0), b=(0,100,0,100): SSB=5000, SSW=10000,
    # W = (5000/1)/(10000/6) = 3 up to the division rounding
    assert rw["f"] is not None and abs(rw["f"] - 3.0) < 1e-12
    # even-n group: lower median picked (2 of [2,4] -> deviations 0,2)
    even = spark.createDataFrame(
        [("a", 2), ("a", 4), ("b", 2), ("b", 4)], "g string, x bigint")
    re_ = E.brown_forsythe(even, "x", "g").collect()[0]
    # lower median = 2 -> deviations (0, 2) in each group, identical
    # profiles -> W = 0 and SSW = Q - T = 8 - 4 = 4 exactly
    assert re_["ssw"] == 4.0
    assert re_["f"] == 0.0


def test_kruskal_wallis_reference(spark):
    """Matches scipy-formula longhand on a small no-tie case and the
    tie-corrected form on a tied case; k=2 agrees with the textbook
    identity H = z² (large-sample square of the MW normal score is
    approximate, so only the longhand is asserted)."""
    # no ties: a=(1,3,5), b=(2,4,6), c=(7,8,9)
    rows = [("a", 1), ("a", 3), ("a", 5),
            ("b", 2), ("b", 4), ("b", 6),
            ("c", 7), ("c", 8), ("c", 9)]
    df = spark.createDataFrame(rows, "g string, x bigint")
    r = E.kruskal_wallis(df, "x", "g").collect()[0]
    # ranks 1..9; R_a=1+3+5=9, R_b=2+4+6=12, R_c=24; doubled: 18,24,48
    S = (18.0 * 18.0 / 12.0) + (24.0 * 24.0 / 12.0) + (48.0 * 48.0 / 12.0)
    h = 12.0 * S / (9.0 * 10.0) - 3.0 * 10.0
    assert (r["k"], r["n"]) == (3, 9)
    assert abs(r["h"] - h) < 1e-12
    assert r["h_corrected"] == r["h"]  # no ties -> factor 1
    # all tied -> NULL corrected
    const = spark.createDataFrame(
        [("a", 5), ("b", 5)], "g string, x bigint")
    rc = E.kruskal_wallis(const, "x", "g").collect()[0]
    assert rc["h_corrected"] is None
    # one group -> NULL h
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, x bigint")
    assert E.kruskal_wallis(one, "x", "g").collect()[0]["h"] is None


def test_welch_t_reference(spark):
    """Longhand Welch on a small two-group case, plus degenerate
    guards (n<2, single group, zero variance)."""
    a = [2, 4, 6, 8]
    bvals = [10, 11, 12]
    rows = [(0, v) for v in a] + [(1, v) for v in bvals]
    df = spark.createDataFrame(rows, "g int, x bigint")
    r = E.welch_t(df, "x", "g").collect()[0]
    import statistics
    m0, m1 = statistics.mean(a), statistics.mean(bvals)
    v0 = statistics.variance(a)
    v1 = statistics.variance(bvals)
    se2 = v1 / 3 + v0 / 4
    assert (r["n0"], r["n1"]) == (4, 3)
    assert r["mean0"] == m0 and r["mean1"] == m1
    assert abs(r["t"] - (m1 - m0) / se2 ** 0.5) < 1e-12
    dof = se2 ** 2 / ((v1 / 3) ** 2 / 2 + (v0 / 4) ** 2 / 3)
    assert abs(r["df"] - dof) < 1e-9
    tiny = spark.createDataFrame([(0, 1), (1, 2)], "g int, x bigint")
    assert E.welch_t(tiny, "x", "g").collect()[0]["t"] is None
    const = spark.createDataFrame(
        [(0, 5), (0, 5), (1, 5), (1, 5)], "g int, x bigint")
    assert E.welch_t(const, "x", "g").collect()[0]["t"] is None


def test_cuped_reference_and_variance_reduction(spark):
    """theta matches the longhand cov/var; adjusted means shift by
    theta*(cohort pre-mean - pooled pre-mean); a perfectly-correlated
    covariate removes ~all variance (1 - rho^2 ~ 0); var(X)=0 falls
    back to raw means with NULL theta."""
    rows = [("a", 10, 25), ("a", 20, 45), ("b", 30, 66), ("b", 40, 84)]
    df = spark.createDataFrame(rows, "ch string, x bigint, y bigint")
    out = {r["cohort"]: r for r in
           E.cuped_adjusted_means(df, "x", "y", "ch").collect()}
    import statistics
    xs = [10, 20, 30, 40]
    ys = [25, 45, 66, 84]
    n = 4
    cov = n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
    varx = n * sum(a * a for a in xs) - sum(xs) ** 2
    theta = cov / varx
    a = out["a"]
    assert abs(a["theta"] - theta) < 1e-12
    mxall = statistics.mean(xs)
    assert a["mean_adj"] == a["mean_post"] - a["theta"] * (15.0 - mxall)
    # near-perfect correlation -> variance reduction factor near 0
    assert a["var_reduction"] < 0.01
    const = spark.createDataFrame(
        [("a", 5, 1), ("b", 5, 9)], "ch string, x bigint, y bigint")
    rc = {r["cohort"]: r for r in
          E.cuped_adjusted_means(const, "x", "y", "ch").collect()}
    assert rc["a"]["theta"] is None
    assert rc["a"]["mean_adj"] == rc["a"]["mean_post"]
    assert rc["a"]["var_reduction"] == 1.0


def test_diff_in_diff_hand_case(spark):
    """Planted effect: control goes 10 -> 12 (+2 trend), treatment
    10 -> 17 (+7) -> DiD = 5; missing cohort gives NULL."""
    rows = [(0, 10, 12), (0, 10, 12), (1, 10, 17), (1, 10, 17)]
    df = spark.createDataFrame(rows, "ch int, x bigint, y bigint")
    r = E.diff_in_diff(df, "x", "y", "ch").collect()[0]
    assert (r["pre0"], r["post0"], r["pre1"], r["post1"]) \
        == (10.0, 12.0, 10.0, 17.0)
    assert r["did"] == 5.0
    one = spark.createDataFrame([(1, 3, 9)], "ch int, x bigint, y bigint")
    assert E.diff_in_diff(one, "x", "y", "ch").collect()[0]["did"] is None


def test_normal_p_and_bh_fdr(spark):
    """p(z) matches scipy-grade values within the documented 1.5e-7
    A&S error; BH rejects exactly the textbook step-up set."""
    import math

    zs = spark.createDataFrame(
        [(1.96,), (0.0,), (-2.575,)], "z double")
    got = [r["p"] for r in zs.select(
        E.normal_p_two_sided(F.col("z")).alias("p")).collect()]
    want = [2 * (1 - 0.975002), 1.0, 2 * (1 - 0.994988)]
    for g, w in zip(got, want):
        assert abs(g - w) < 3e-6
    # textbook BH at alpha=0.05, m=5: sorted p = .01,.02,.03,.2,.9;
    # thresholds i*.01: reject ranks 1? p1=.01<=.01 yes; p2=.02<=.02
    # yes; p3=.03<=.03 yes; p4=.2<=.04 no; p5=.9 no -> k*=3
    h = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.2), ("e", 0.9),
         ("f", None)],
        "key string, p double")
    out = {r["key"]: r for r in E.bh_fdr(h, "p", "key",
                                         alpha_permille=50).collect()}
    assert len(out) == 5 and "f" not in out  # NULL p excluded, m=5
    assert all(out[k]["m"] == 5 for k in out)
    assert {k for k in out if out[k]["rejected"]} == {"a", "b", "c"}
    # step-up: a later passing rank rescues earlier failures
    h2 = spark.createDataFrame(
        [("a", 0.011), ("b", 0.02)], "key string, p double")
    o2 = {r["key"]: r["rejected"]
          for r in E.bh_fdr(h2, "p", "key", 50).collect()}
    # m=2: p1=.011 > .025? no, .011 <= .025 yes;  p2=.02 <= .05 yes
    assert o2 == {"a": True, "b": True}


def test_mcnemar_hand_case(spark):
    """Textbook 2x2 discordance: n10=10, n01=2 -> chi2=(|8|-1)^2/12."""
    rows = ([(1, 0)] * 10 + [(0, 1)] * 2 + [(1, 1)] * 5 + [(0, 0)] * 3)
    df = spark.createDataFrame(rows, "a int, b int")
    r = E.mcnemar_test(df, "a", "b").collect()[0]
    assert (r["n"], r["n10"], r["n01"]) == (20, 10, 2)
    assert r["chi2"] == 49.0 / 12.0
    assert 0.0 <= r["p"] <= 1.0
    # perfect agreement -> no discordant pairs -> NULL chi2/p
    agree = spark.createDataFrame([(1, 1), (0, 0)], "a int, b int")
    ra = E.mcnemar_test(agree, "a", "b").collect()[0]
    assert ra["chi2"] is None and ra["p"] is None


def test_mann_kendall_trend_and_ties(spark):
    """Strictly increasing series -> S = C(n,2), p small; constant
    series -> V = 0 -> NULL z/p; known tie case matches the longhand
    tie-corrected variance."""
    up = spark.createDataFrame([(i, i * 2) for i in range(10)],
                               "t int, x bigint")
    r = E.mann_kendall(up, "x", "t").collect()[0]
    assert r["s_stat"] == 45 and r["n"] == 10
    assert r["p"] < 0.001 and r["z"] > 0
    flat = spark.createDataFrame([(i, 7) for i in range(5)],
                                 "t int, x bigint")
    rf = E.mann_kendall(flat, "x", "t").collect()[0]
    assert rf["s_stat"] == 0 and rf["z"] is None and rf["p"] is None
    # hand case with one tie pair: x = [1, 2, 2, 3]
    # S = sign-sum over ordered pairs = 5; ties: one value (2) with t=2
    # -> V = [4*3*13 - 2*1*9]/18 = (156-18)/18
    tie = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 2), (3, 3)], "t int, x bigint")
    rt = E.mann_kendall(tie, "x", "t").collect()[0]
    assert rt["s_stat"] == 5
    assert rt["var_s"] == (156 - 18) / 18.0
    # z = (5-1)/sqrt(V)
    import math

    assert rt["z"] == 4.0 / math.sqrt((156 - 18) / 18.0)


def test_kendall_tau_b_reference(spark):
    """tau-b equals the O(n^2) pure-python reference on a tied sample,
    hits +1/-1 on perfect (anti)concordance, and NULLs when one side is
    constant."""
    import itertools
    import math

    data = [(1, 2), (2, 2), (2, 3), (3, 1), (4, 5), (4, 5), (5, 7)]
    df = spark.createDataFrame(data, "x bigint, y bigint")
    r = E.kendall_tau_b(df, "x", "y").collect()[0]
    conc = disc = tx = ty = 0
    for (x1, y1), (x2, y2) in itertools.combinations(data, 2):
        if x1 == x2:
            tx += 1
            if y1 == y2:
                pass
            continue
        if y1 == y2:
            ty += 1
            continue
        if (x2 - x1) * (y2 - y1) > 0:
            conc += 1
        else:
            disc += 1
    n = len(data)
    n0 = n * (n - 1) // 2
    # tie terms count pairs tied on EACH axis (including both-tied)
    t_x = sum(c * (c - 1) // 2 for c in
              [sum(1 for d in data if d[0] == v)
               for v in {d[0] for d in data}])
    t_y = sum(c * (c - 1) // 2 for c in
              [sum(1 for d in data if d[1] == v)
               for v in {d[1] for d in data}])
    want = (conc - disc) / math.sqrt((n0 - t_x) * (n0 - t_y))
    assert r["n"] == n and r["concordant"] == conc
    assert r["discordant"] == disc
    assert abs(r["tau_b"] - want) < 1e-12
    perfect = spark.createDataFrame([(i, i + 10) for i in range(6)],
                                    "x bigint, y bigint")
    assert E.kendall_tau_b(perfect, "x", "y").collect()[0]["tau_b"] == 1.0
    anti = spark.createDataFrame([(i, -i) for i in range(6)],
                                 "x bigint, y bigint")
    assert E.kendall_tau_b(anti, "x", "y").collect()[0]["tau_b"] == -1.0
    const = spark.createDataFrame([(i, 5) for i in range(6)],
                                  "x bigint, y bigint")
    assert E.kendall_tau_b(const, "x", "y").collect()[0]["tau_b"] is None


def test_theil_sen_robust_slope(spark):
    """Exact slope on a clean line, outlier-day robustness (the median
    shrugs off what least squares chases), and the even-count
    mean-of-middles rule on a hand case."""
    line = spark.createDataFrame([(t, 3 * t + 7) for t in range(9)],
                                 "t int, x bigint")
    r = E.theil_sen(line, "x", "t").collect()[0]
    assert r["slope"] == 3.0 and r["intercept"] == 7.0
    assert r["n_pairs"] == 36
    # one wild day: slope stays 3 (median), intercept stays put
    dirty = spark.createDataFrame(
        [(t, 3 * t + 7) for t in range(9)] + [(9, 1000)],
        "t int, x bigint")
    rd = E.theil_sen(dirty, "x", "t").collect()[0]
    assert rd["slope"] == 3.0
    # n=2: single pair, exact division
    two = spark.createDataFrame([(0, 10), (4, 20)], "t int, x bigint")
    rt = E.theil_sen(two, "x", "t").collect()[0]
    assert rt["slope"] == 2.5 and rt["n_pairs"] == 1
    one = spark.createDataFrame([(0, 10)], "t int, x bigint")
    ro = E.theil_sen(one, "x", "t").collect()[0]
    assert ro["slope"] is None and ro["intercept"] is None


def test_cochran_armitage_hand_case(spark):
    """Longhand CA on a 3-bucket table with a planted rising rate;
    flat rates give z ~ 0; all-success pool is NULL."""
    import math

    # buckets w=0,1,2: (n, s) = (10, 2), (10, 5), (10, 8)
    rows = ([(0, 1)] * 2 + [(0, 0)] * 8 + [(1, 1)] * 5 + [(1, 0)] * 5
            + [(2, 1)] * 8 + [(2, 0)] * 2)
    df = spark.createDataFrame(rows, "w int, y int")
    r = E.cochran_armitage(df, "y", "w").collect()[0]
    n, s = 30, 15
    ws = 0 * 2 + 1 * 5 + 2 * 8
    wn = 0 * 10 + 1 * 10 + 2 * 10
    wwn = 0 + 10 + 40
    num = ws - s * wn / n
    den2 = (s / n) * (1 - s / n) * (wwn - wn * wn / n)
    assert (r["n"], r["successes"], r["n_scores"]) == (30, 15, 3)
    assert r["z"] == num / math.sqrt(den2)
    assert r["p"] < 0.01  # strong planted trend
    flat = spark.createDataFrame(
        [(w, y) for w in range(3) for y in (0, 1)] * 5, "w int, y int")
    rf = E.cochran_armitage(flat, "y", "w").collect()[0]
    assert rf["z"] == 0.0
    allpass = spark.createDataFrame([(0, 1), (1, 1)], "w int, y int")
    ra = E.cochran_armitage(allpass, "y", "w").collect()[0]
    assert ra["z"] is None and ra["p"] is None


def test_eb_shrinkage_properties(spark):
    """Shrunk means sit between the raw mean and the consensus, small
    groups shrink MORE than big ones at equal variance, a homogeneous
    family shrinks ~fully (tau2 -> 0 => B -> 1), and degenerate groups
    keep raw means with NULL shrinkage."""
    import random

    random.seed(7)
    rows = []
    # big group around 100, small group around 160, medium around 100
    for i in range(400):
        rows.append(("big", 100 + (i * 37) % 21 - 10))
    for i in range(6):
        rows.append(("small", 160 + (i * 13) % 11 - 5))
    for i in range(80):
        rows.append(("mid", 100 + (i * 29) % 21 - 10))
    rows.append(("single", 999))  # n=1: no within-variance
    df = spark.createDataFrame(rows, "g string, x bigint")
    out = {r["grp"]: r for r in E.eb_shrunk_means(df, "x", "g").collect()}
    assert out["single"]["shrunk_mean"] is None
    assert out["single"]["mean"] == 999.0
    sm = out["small"]
    # the outlier small group moves toward the consensus...
    assert sm["shrunk_mean"] < sm["mean"]
    # ...but not past it
    assert sm["shrunk_mean"] > out["big"]["mean"]
    # shrinkage factor: small group's B exceeds the big group's
    assert sm["b"] > out["big"]["b"]
    # near-homogeneous family: groups drawn from the same pattern
    homo = spark.createDataFrame(
        [(f"g{i % 4}", 50 + (j * 17) % 13) for i in range(4)
         for j in range(50)], "g string, x bigint")
    ho = {r["grp"]: r for r in E.eb_shrunk_means(homo, "x", "g").collect()}
    for r in ho.values():
        assert abs(r["shrunk_mean"] - r["mean"]) < 1.0


def test_nelson_aalen_hand_case(spark):
    """Same textbook subjects as the KM hand case — H(t) sums d/n over
    event times, variance sums (d/n)((n-d)/n)/n, censor-only times
    contribute nothing."""
    subj = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 1), (4, 0), (5, 1)],
        "duration bigint, event int")
    rows = {r["duration"]: r
            for r in E.nelson_aalen(subj, "duration", "event").collect()}
    assert set(rows) == {1, 3, 5}
    h1 = 1.0 / 6.0
    h3 = h1 + 2.0 / 4.0
    h5 = h3 + 1.0 / 1.0
    assert rows[1]["cum_hazard"] == h1
    assert rows[3]["cum_hazard"] == h3
    assert rows[5]["cum_hazard"] == h5
    v1 = (1.0 / 6.0) * (5.0 / 6.0) / 6.0
    v3 = v1 + (2.0 / 4.0) * (2.0 / 4.0) / 4.0
    assert rows[1]["var_hazard"] == v1
    assert rows[3]["var_hazard"] == v3
    # d = n at t=5: hazard jumps by 1, variance increment is 0
    assert rows[5]["var_hazard"] == v3
    assert (rows[3]["n_risk"], rows[3]["n_events"]) == (4, 2)


def test_nelson_aalen_grouped_matches_km_risk_sets(spark):
    """Grouped hazards are independent per key and share the KM risk
    sets exactly (same _risk_set_arr pass)."""
    subj = spark.createDataFrame(
        [("a", 2, 0), ("a", 3, 0),
         ("b", 1, 1), ("b", 2, 1)],
        "g string, duration bigint, event int")
    na = {(r["g"], r["duration"]): r for r in
          E.nelson_aalen(subj, "duration", "event", keys=["g"]).collect()}
    km = {(r["g"], r["duration"]): r for r in
          E.kaplan_meier(subj, "duration", "event", keys=["g"]).collect()}
    assert set(na) == set(km) == {("b", 1), ("b", 2)}
    for k in na:
        assert na[k]["n_risk"] == km[k]["n_risk"]
        assert na[k]["n_events"] == km[k]["n_events"]
    assert na[("b", 1)]["cum_hazard"] == 0.5
    assert na[("b", 2)]["cum_hazard"] == 1.5


def test_cohens_d_hand_case(spark):
    """Two groups with a planted shift: d matches the longhand pooled-SD
    formula, g applies the Hedges small-sample factor."""
    import math
    rows = [(0, v) for v in (1, 2, 3, 4)] + [(1, v) for v in (3, 4, 5, 6)]
    df = spark.createDataFrame(rows, "grp int, x bigint")
    r = E.cohens_d(df, "x", "grp").collect()[0]
    # longhand: each group var = ((1+4+9+16) - 100/4)/3 = 5/3
    sp2 = (3 * (5.0 / 3.0) + 3 * (5.0 / 3.0)) / 6.0
    d = 2.0 / math.sqrt(sp2)
    assert (r["n0"], r["n1"]) == (4, 4)
    assert r["mean0"] == 2.5 and r["mean1"] == 4.5
    assert abs(r["d"] - d) < 1e-12
    assert abs(r["g"] - (1.0 - 3.0 / 23.0) * d) < 1e-12


def test_cohens_d_degenerate_null(spark):
    """n < 2 in a group, or zero pooled variance -> NULL d/g."""
    df1 = spark.createDataFrame([(0, 1), (1, 2), (1, 3)], "grp int, x bigint")
    r1 = E.cohens_d(df1, "x", "grp").collect()[0]
    assert r1["d"] is None and r1["g"] is None
    df2 = spark.createDataFrame(
        [(0, 5), (0, 5), (1, 7), (1, 7)], "grp int, x bigint")
    r2 = E.cohens_d(df2, "x", "grp").collect()[0]
    assert r2["d"] is None and r2["g"] is None


def _pettitt_longhand(xs):
    """O(T^2) reference: U_t for t = first..last-1, K, argmax."""
    import math
    T = len(xs)
    sgn = lambda v: (v > 0) - (v < 0)  # noqa: E731
    us = []
    for t in range(T - 1):
        u = sum(sgn(xs[j] - xs[i])
                for i in range(t + 1) for j in range(t + 1, T))
        us.append(u)
    k = max(abs(u) for u in us)
    cp = min(t for t, u in enumerate(us) if abs(u) == k)
    p = min(1.0, round(2.0 * math.exp((-6.0 * k * k)
                                      / (T ** 3 + T ** 2)), 9))
    return us, k, cp, us[cp], p


def test_pettitt_hand_case(spark):
    """Step series with a planted level shift: U_t, K, the changepoint
    day, and the exp approximation all match the longhand O(T^2)
    reference."""
    xs = [5, 6, 5, 7, 6, 12, 13, 12, 14, 13]
    rows = [(t, x) for t, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "d bigint, x bigint")
    r = E.pettitt_changepoint(df, "x", "d").collect()[0]
    us, k, cp, ucp, p = _pettitt_longhand(xs)
    assert r["n"] == 10
    assert r["k_stat"] == k
    assert r["cp_time"] == cp
    assert r["u_at_cp"] == ucp
    assert r["p"] == p
    assert cp == 4  # shift planted after index 4


def test_pettitt_grouped_and_degenerate(spark):
    """keys= runs one test per group; n = 1 emits NULLs."""
    rows = ([("a", t, x) for t, x in enumerate([1, 1, 9, 9])]
            + [("b", 0, 5)])
    df = spark.createDataFrame(rows, "g string, d bigint, x bigint")
    out = {r["g"]: r for r in
           E.pettitt_changepoint(df, "x", "d", keys=["g"]).collect()}
    us, k, cp, ucp, p = _pettitt_longhand([1, 1, 9, 9])
    assert out["a"]["k_stat"] == k and out["a"]["cp_time"] == cp
    assert out["a"]["p"] == p
    assert out["b"]["k_stat"] is None and out["b"]["p"] is None


def test_hoeffding_confseq_hand_case(spark):
    """Cumulative counts, the stitched radius chain (round-9 after each
    nested ln), clamping, and the t < 2 guard."""
    import math
    rows = [(0, 1, 1), (1, 3, 1), (2, 6, 2)]
    df = spark.createDataFrame(rows, "d bigint, n bigint, s bigint")
    out = {r["d"]: r for r in
           E.hoeffding_confseq(df, "d", "n", "s").collect()}
    assert out[0]["n_cum"] == 1 and out[0]["radius"] is None
    assert out[0]["rate"] == 1.0
    lna = round(math.log(5200.0 / 50.0), 9)
    for d, (t, s) in [(1, (4, 2)), (2, (10, 4))]:
        lnln = round(math.log(round(math.log(2.0 * t), 9)), 9)
        r = 1.7 * math.sqrt((lnln + 0.72 * lna) / t)
        assert out[d]["n_cum"] == t and out[d]["s_cum"] == s
        assert out[d]["rate"] == s / t
        assert out[d]["radius"] == r
        assert out[d]["lo"] == max(0.0, s / t - r)
        assert out[d]["hi"] == min(1.0, s / t + r)


def test_hoeffding_confseq_band_shrinks_and_covers(spark):
    """On a long constant-rate series the band monotonically shrinks
    and always contains the true rate."""
    rows = [(d, 100, 30) for d in range(50)]
    df = spark.createDataFrame(rows, "d bigint, n bigint, s bigint")
    out = sorted(E.hoeffding_confseq(df, "d", "n", "s").collect(),
                 key=lambda r: r["d"])
    radii = [r["radius"] for r in out]
    assert all(a > b for a, b in zip(radii, radii[1:]))
    assert all(r["lo"] <= 0.3 <= r["hi"] for r in out)


def test_cliffs_delta_hand_case(spark):
    """delta = (#> - #<)/(n1*n0) counted longhand, ties contributing
    zero; delta = 2*AUC - 1 against the roc_auc machinery."""
    rows = [(1, 0), (2, 0), (3, 0), (2, 1), (4, 1), (5, 1)]
    df = spark.createDataFrame(rows, "s bigint, y int")
    r = E.cliffs_delta(df, "s", "y").collect()[0]
    gt = sum(1 for a in (2, 4, 5) for b in (1, 2, 3) if a > b)
    lt = sum(1 for a in (2, 4, 5) for b in (1, 2, 3) if a < b)
    want = (gt - lt) / 9.0
    assert (r["n_pos"], r["n_neg"]) == (3, 3)
    assert r["delta"] == want
    auc = E.roc_auc(df, "s", "y").collect()[0]["auc"]
    assert abs(r["delta"] - (2 * auc - 1)) < 1e-15
    assert r["magnitude"] == "large"


def test_cliffs_delta_degenerate_and_grouped(spark):
    """One-class groups emit NULL; keys= screens per group."""
    rows = [("a", 1, 0), ("a", 5, 1), ("b", 3, 0), ("b", 4, 0)]
    df = spark.createDataFrame(rows, "g string, s bigint, y int")
    out = {r["g"]: r for r in
           E.cliffs_delta(df, "s", "y", keys=["g"]).collect()}
    assert out["a"]["delta"] == 1.0
    assert out["b"]["delta"] is None and out["b"]["magnitude"] is None


def _duck_rows(sql, tbl_name, rows, schema_sql):
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {tbl_name} ({schema_sql})")
    ph = ", ".join("?" for _ in rows[0])
    con.executemany(f"INSERT INTO {tbl_name} VALUES ({ph})", rows)
    return con.sql(sql).df()


def test_nelson_aalen_sql_mirror_grouped(spark):
    """The keys= path of nelson_aalen_sql agrees bitwise with the Spark
    operator (the registered row only exercises the global path)."""
    rows = [("a", 1, 1), ("a", 2, 0), ("a", 3, 1), ("a", 3, 1),
            ("b", 1, 1), ("b", 2, 1), ("b", 4, 0)]
    df = spark.createDataFrame(rows, "g string, duration bigint, event int")
    got = {(r["g"], r["duration"]):
           (r["n_risk"], r["n_events"], r["cum_hazard"], r["var_hazard"])
           for r in E.nelson_aalen(df, "duration", "event",
                                   keys=["g"]).collect()}
    sql = E.nelson_aalen_sql("SELECT * FROM subj0", keys=["g"])
    pdf = _duck_rows(sql, "subj0", rows,
                     "g VARCHAR, duration BIGINT, event INT")
    want = {(r.g, r.duration): (r.n_risk, r.n_events, r.cum_hazard,
                                r.var_hazard)
            for r in pdf.itertuples()}
    assert got == want


def test_hoeffding_confseq_sql_mirror_grouped(spark):
    """The keys= path of hoeffding_confseq_sql agrees bitwise with the
    Spark operator."""
    import math
    rows = [("a", 0, 5, 2), ("a", 1, 7, 3), ("b", 0, 1, 1), ("b", 1, 9, 0)]
    df = spark.createDataFrame(rows, "g string, d bigint, n bigint, s bigint")
    got = {(r["g"], r["d"]): (r["n_cum"], r["s_cum"], r["rate"],
                              r["radius"], r["lo"], r["hi"])
           for r in E.hoeffding_confseq(df, "d", "n", "s",
                                        keys=["g"]).collect()}
    sql = E.hoeffding_confseq_sql("(SELECT * FROM daily0)", "d", "n", "s",
                                  time_name="d", keys=["g"])
    pdf = _duck_rows(sql, "daily0", rows,
                     "g VARCHAR, d BIGINT, n BIGINT, s BIGINT")
    want = {}
    for r in pdf.itertuples():
        want[(r.g, r.d)] = tuple(
            None if (isinstance(v, float) and math.isnan(v)) else v
            for v in (r.n_cum, r.s_cum, r.rate, r.radius, r.lo, r.hi))
    assert got == want


def test_cliffs_delta_sql_mirror_grouped(spark):
    """The keys= path of cliffs_delta_sql agrees with the operator."""
    rows = [("a", 1, 0), ("a", 2, 1), ("a", 2, 0), ("a", 5, 1),
            ("b", 9, 1), ("b", 3, 0), ("b", 3, 0)]
    df = spark.createDataFrame(rows, "g string, s bigint, y int")
    got = {r["g"]: (r["n_pos"], r["n_neg"], r["delta"], r["magnitude"])
           for r in E.cliffs_delta(df, "s", "y", keys=["g"]).collect()}
    sql = E.cliffs_delta_sql("(SELECT * FROM pts0)", "s", "y", keys=["g"])
    pdf = _duck_rows(sql, "pts0", rows, "g VARCHAR, s BIGINT, y INT")
    want = {r.g: (r.n_pos, r.n_neg, r.delta, r.magnitude)
            for r in pdf.itertuples()}
    assert got == want


def test_wilson_ci_hand_case_and_boundary(spark):
    """Wilson center/radius match longhand; p-hat = 0 still gets a
    positive-width interval inside [0, 1] (the Wald failure case)."""
    import math
    z = 1.959963984540054
    rows = [(1, 1)] * 3 + [(1, 0)] * 7 + [(2, 0)] * 5
    df = spark.createDataFrame(rows, "g int, s int")
    out = {r["g"]: r for r in E.wilson_ci(df, "g", "s").collect()}
    n, p = 10.0, 0.3
    denom = 1.0 + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    rad = (z / denom) * math.sqrt((p * (1 - p) + z * z / (4.0 * n)) / n)
    assert out[1]["rate"] == 0.3
    assert abs(out[1]["lo"] - (center - rad)) < 1e-15
    assert abs(out[1]["hi"] - (center + rad)) < 1e-15
    assert out[2]["rate"] == 0.0
    assert 0.0 <= out[2]["lo"] < out[2]["hi"] < 1.0
    assert out[2]["hi"] > 0.3  # n=5 zero-successes upper bound ~0.43


def test_g_test_matches_longhand_and_chi2_scale(spark):
    """G matches the longhand 2*sum(O ln(O N / (R C))) with the round-9
    ln discipline; on a strongly associated table G and chi2 agree in
    order of magnitude."""
    import math
    rows = [("a", "x")] * 30 + [("a", "y")] * 10 + \
           [("b", "x")] * 10 + [("b", "y")] * 30
    df = spark.createDataFrame(rows, "u string, v string")
    r = E.g_test_independence(df, "u", "v").collect()[0]
    N = 80
    cells = {("a", "x"): 30, ("a", "y"): 10, ("b", "x"): 10, ("b", "y"): 30}
    R = {"a": 40, "b": 40}
    C = {"x": 40, "y": 40}
    want = 2.0 * sum(c * round(math.log(c * N / (R[u] * C[v])), 9)
                     for (u, v), c in sorted(cells.items()))
    assert r["g_stat"] == round(want, 9)
    assert r["dof"] == 1 and r["n"] == 80
    chi2 = E.chi2_independence(df, "u", "v").collect()[0]["chi2"]
    assert 0.5 < r["g_stat"] / chi2 < 2.0


def test_combine_pvalues_matches_scipy_formulas(spark):
    """Fisher's Erlang-tail closed form and Stouffer's Z match the
    textbook formulas computed longhand (scipy-grade, via math)."""
    import math
    hyp = [(0.04, 2.05), (0.20, 1.28), (0.50, 0.67), (0.01, 2.58)]
    df = spark.createDataFrame(hyp, "p double, z double")
    r = E.combine_pvalues(df, "p", "z").collect()[0]
    x2 = -2.0 * sum(round(math.log(p), 9) for p, _ in sorted(hyp))
    assert r["k"] == 4
    assert r["fisher_x2"] == round(x2, 9)
    h = x2 / 2.0
    s = 1.0
    for j in range(1, 4):
        t = 1.0
        for i in range(1, j + 1):
            t = t * (h / i)
        s += t
    assert abs(r["fisher_p"] - math.exp(-h) * s) < 1e-9
    # cross-check against the chi2 survival function numerically
    from math import exp
    want_p = exp(-h) * sum((h ** j) / math.factorial(j) for j in range(4))
    assert abs(r["fisher_p"] - want_p) < 1e-9
    sz = sum(z for _, z in sorted(hyp)) / math.sqrt(4.0)
    assert abs(r["stouffer_z"] - sz) < 1e-12
    assert r["fisher_p"] < 0.01  # four small p's combine strongly


def test_cmh_hand_case_matches_longhand(spark):
    """Two strata with a consistent positive association: CMH and the
    MH odds ratio match the longhand hypergeometric sums; a stratum of
    size 1 is excluded by the n >= 2 convention."""
    import math
    rows = (
        [("s1", 1, 1)] * 12 + [("s1", 1, 0)] * 4
        + [("s1", 0, 1)] * 5 + [("s1", 0, 0)] * 9
        + [("s2", 1, 1)] * 7 + [("s2", 1, 0)] * 3
        + [("s2", 0, 1)] * 2 + [("s2", 0, 0)] * 8
        + [("tiny", 1, 1)]   # n = 1: excluded
    )
    df = spark.createDataFrame(rows, "h string, e int, o int")
    r = E.cmh_test(df, "h", "e", "o").collect()[0]
    strata = {"s1": (12, 4, 5, 9), "s2": (7, 3, 2, 8)}
    sa = se = sv = sad = sbc = 0.0
    for h in sorted(strata):
        a, b, c, d = strata[h]
        n = a + b + c + d
        r1, c1 = a + b, a + c
        sa += a
        se += (r1 * c1) / n
        sv += (r1 * (n - r1)) * (c1 * (n - c1)) / (n * n * (n - 1.0))
        sad += a * d / n
        sbc += b * c / n
    cmh = (sa - se) ** 2 / sv
    assert r["k_strata"] == 2 and r["sum_a"] == 19
    assert r["cmh"] == round(cmh, 9)
    assert r["or_mh"] == round(sad / sbc, 9)
    assert r["or_mh"] > 1.0 and r["p"] < 0.05
    del math


def test_cmh_null_association_and_degenerate(spark):
    """Independent strata give small CMH / OR near 1; an all-one-margin
    family (sv = 0) emits NULLs."""
    rows = ([("s", 1, 1), ("s", 1, 0), ("s", 0, 1), ("s", 0, 0)] * 5)
    df = spark.createDataFrame(rows, "h string, e int, o int")
    r = E.cmh_test(df, "h", "e", "o").collect()[0]
    assert r["cmh"] is not None and r["cmh"] < 0.5
    assert abs(r["or_mh"] - 1.0) < 1e-9
    deg = spark.createDataFrame([("s", 1, 1), ("s", 1, 0)] * 3,
                                "h string, e int, o int")
    r2 = E.cmh_test(deg, "h", "e", "o").collect()[0]
    assert r2["cmh"] is None and r2["p"] is None


def test_siegel_slope_exact_line_and_breakdown(spark):
    """A clean integer line recovers its slope exactly; corrupting
    ~45% of the points (which bends Theil-Sen) leaves the Siegel
    repeated-medians line on the true slope."""
    clean = [(t, 3 * t + 7) for t in range(11)]
    df = spark.createDataFrame(clean, "d bigint, x bigint")
    r = E.siegel_slope(df, "x", "d").collect()[0]
    assert r["slope"] == 3.0 and r["intercept"] == 7.0
    # corrupt 4 of 11 points grossly: each clean anchor still sees a
    # clean MAJORITY of its 10 pairwise slopes (6 of 10), and clean
    # anchors are 7 of 11 — both medians hold; Theil-Sen's pooled pair
    # median (only C(7,2)=21 of 55 pairs clean) is dragged
    bad = [(t, 3 * t + 7) for t in range(7)] + \
          [(t, 100000 + t) for t in range(7, 11)]
    df2 = spark.createDataFrame(bad, "d bigint, x bigint")
    sieg = E.siegel_slope(df2, "x", "d").collect()[0]["slope"]
    ts = E.theil_sen(df2, "x", "d").collect()[0]["slope"]
    assert sieg == 3.0            # repeated medians hold
    assert abs(ts - 3.0) > 100    # pooled pair median dragged


def test_siegel_slope_degenerate(spark):
    """n = 1 emits NULL slope/intercept."""
    df = spark.createDataFrame([(0, 5)], "d bigint, x bigint")
    r = E.siegel_slope(df, "x", "d").collect()[0]
    assert r["slope"] is None and r["intercept"] is None


def test_holm_textbook_case(spark):
    """Textbook Holm at alpha=0.05: p = (0.01, 0.02, 0.03, 0.04) with
    m=4 -> thresholds 0.0125, 0.0167, 0.025, 0.05: rank 1 passes,
    rank 2 FAILS (0.02 > 0.0167) so rejection stops after rank 1;
    adjusted p's are the running max of (m-j+1)p_(j)."""
    hyp = [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.04)]
    df = spark.createDataFrame(hyp, "key string, p double")
    out = {r["key"]: r for r in
           E.holm_adjust(df, "p", "key").collect()}
    assert out["a"]["rejected"] is True
    assert out["b"]["rejected"] is False
    assert out["c"]["rejected"] is False and out["d"]["rejected"] is False
    assert out["a"]["p_adj"] == 0.04                  # 4*0.01
    assert out["b"]["p_adj"] == max(0.04, 3 * 0.02)   # 0.06
    assert out["c"]["p_adj"] == max(0.06, 2 * 0.03)   # 0.06
    assert out["d"]["p_adj"] == max(0.06, 1 * 0.04)   # 0.06
    # all-tiny family rejects everything (k* = m); NULLs excluded
    df2 = spark.createDataFrame(
        [("a", 1e-6), ("b", 1e-5), ("x", None)], "key string, p double")
    o2 = E.holm_adjust(df2, "p", "key").collect()
    assert len(o2) == 2 and all(r["rejected"] for r in o2)
    assert all(r["m"] == 2 for r in o2)


def test_holm_rejects_subset_of_bh(spark):
    """Holm (FWER) never rejects a hypothesis BH (FDR) retains — the
    standard strictness ordering — on the registered screen's shape."""
    import random
    rng = random.Random(7)
    hyp = [(f"s{i}", rng.random() * 0.2) for i in range(20)]
    df = spark.createDataFrame(hyp, "key string, p double")
    holm = {r["key"] for r in E.holm_adjust(df, "p", "key").collect()
            if r["rejected"]}
    bh = {r["key"] for r in E.bh_fdr(df, "p", "key").collect()
          if r["rejected"]}
    assert holm <= bh
