"""Data-quality / expectation operators for pipeline gating.

Training-data pipelines gate on corpus health before burning compute:
null rates, duplicate rates, domain violations, cardinalities.  All checks
compile into ONE aggregation pass per table (applicative fold composition
— N expectations, one scan, one tiny shuffle)."""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-row profile: per column — null count and distinct count, plus
    total rows and full-row duplicate count.  Single .agg pass."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
    return df.agg(*aggs)


def expect(df: DataFrame, expectations: Mapping[str, Column]) -> DataFrame:
    """Count violations per named expectation (Column predicates that
    should hold for every row).  Returns one row: name → violation count;
    0 everywhere means the gate passes.  One scan regardless of N."""
    aggs = [
        # NULL-evaluating predicates count as violations (a NULL in the
        # expression is itself a quality failure, not a pass)
        F.count(F.when(~F.coalesce(cond, F.lit(False)), 1)).alias(name)
        for name, cond in expectations.items()
    ]
    return df.agg(*aggs)


def drift_psi(
    a: DataFrame,
    b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbuckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two corpus snapshots on one
    numeric column: ``PSI = Σ_i (p_i − q_i)·ln(p_i/q_i)`` over
    ``nbuckets`` clamped equi-width buckets (``sketches.hist_bucket``),
    zero shares floored at ``eps`` per the standard convention.  The
    drift gate a recurring training-data ingest wants: PSI < 0.1 stable,
    0.1–0.25 drifting, > 0.25 broken upstream.

    One aggregation pass per snapshot (bucket counts), a ≤ nbuckets-row
    join, and a SORTED-array fold for the final sum, so the result is
    deterministic under any partitioning (same discipline as
    ``sketches.hist_quantile``); the scalar totals ride one-row
    broadcast joins.  Output: one row ``(psi, n_a, n_b)`` with psi
    rounded to 9 decimals (the repo numeric policy for
    transcendental-bearing results — ln differs in the last ulp across
    libms)."""
    from map_reduce_folds_spark.operators.sketches import hist_bucket

    ca = a.groupBy(hist_bucket(col, lo, hi, nbuckets).alias("bucket")) \
        .agg(F.count(F.lit(1)).alias("na"))
    cb = b.groupBy(hist_bucket(col, lo, hi, nbuckets).alias("bucket")) \
        .agg(F.count(F.lit(1)).alias("nb"))
    j = ca.join(cb, "bucket", "full") \
        .select("bucket",
                F.coalesce("na", F.lit(0)).alias("na"),
                F.coalesce("nb", F.lit(0)).alias("nb"))
    tot = j.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    jt = j.crossJoin(F.broadcast(tot))  # one-row scalar idiom
    p = F.greatest(F.col("na").cast("double") / F.col("ta").cast("double"),
                   F.lit(eps))
    q = F.greatest(F.col("nb").cast("double") / F.col("tb").cast("double"),
                   F.lit(eps))
    terms = jt.select(
        "bucket", "ta", "tb",
        ((p - q) * F.log(p / q)).alias("term"),
    )
    pairs = F.array_sort(F.collect_list(
        F.struct(F.col("bucket"), F.col("term"))))
    psi = F.aggregate(pairs, F.lit(0.0), lambda acc, s: acc + s["term"])
    return terms.groupBy("ta", "tb").agg(F.round(psi, 9).alias("psi")) \
        .select(F.col("psi"), F.col("ta").alias("n_a"), F.col("tb").alias("n_b"))


def drift_psi_sql(
    a_src: str, b_src: str, expr: str,
    lo: float, hi: float, nbuckets: int = 10, eps: float = 1e-6,
) -> str:
    """DuckDB mirror of :func:`drift_psi` (same buckets, same eps floor,
    same sorted-list fold, same 9-decimal round)."""
    from map_reduce_folds_spark.operators.sketches import hist_bucket_sql

    hb_a = hist_bucket_sql(expr, lo, hi, nbuckets)
    hb_b = hist_bucket_sql(expr, lo, hi, nbuckets)
    return f"""
    WITH ca AS (SELECT {hb_a} AS bucket, count(*) AS na FROM {a_src} GROUP BY 1),
    cb AS (SELECT {hb_b} AS bucket, count(*) AS nb FROM {b_src} GROUP BY 1),
    j AS (
        SELECT COALESCE(ca.bucket, cb.bucket) AS bucket,
               COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM ca FULL JOIN cb ON ca.bucket = cb.bucket
    ),
    t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
                 CAST(SUM(nb) AS BIGINT) AS tb FROM j),
    terms AS (
        SELECT bucket, ta, tb,
               (greatest(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE), {eps!r})
                - greatest(CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE), {eps!r}))
               * ln(greatest(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE), {eps!r})
                    / greatest(CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE), {eps!r}))
               AS term
        FROM j, t
    )
    SELECT round(list_reduce(
               list_prepend(0.0, list_sort(list({{'b': bucket, 't': term}}))
                            .apply(s -> s.t)),
               (acc, x) -> acc + x), 9) AS psi,
           ta AS n_a, tb AS n_b
    FROM terms GROUP BY ta, tb
    """


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's OWN
    unigram distribution — the classic perplexity-proxy quality filter
    (very negative ⇒ rare-token-heavy gibberish / wrong-language /
    binary-ish docs; near zero ⇒ boilerplate of only stopwords).  Output:
    ``(id, n_tokens, mean_logprob)`` with

        mean_logprob = round( Σ_t ln(count(t)/total) / n_tokens , 9 )

    Shape: token explode → vocabulary count (one map-side-combinable
    aggregation — the word-count plan) → token-keyed join back → per-doc
    sum.  Hot stopword tokens skew the join input, but each joined row
    carries only (doc, pos, cnt) and AQE splits oversized partitions; the
    per-doc sum runs over a SORTED (pos, term) array fold so float
    addition order is pinned under any partitioning, and the 9-decimal
    round absorbs ln's cross-libm last-ulp (the PSI discipline,
    :func:`drift_psi`).  The corpus total rides a one-row broadcast."""
    from map_reduce_folds_spark.operators.text import tokenize

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokenize(text_col)).alias("pos", "tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    terms = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))  # one-row scalar idiom
        .select(
            id_col, "pos",
            F.log(F.col("cnt").cast("double") / F.col("tot").cast("double"))
             .alias("term"),
        )
    )
    pairs = F.array_sort(F.collect_list(F.struct("pos", "term")))
    s = F.aggregate(pairs, F.lit(0.0),
                    lambda acc, x: acc + x["term"])
    return terms.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(s / F.count(F.lit(1)).cast("double"), 9).alias("mean_logprob"),
    )


def dsir_logweights(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance log-weights — Data Selection via Importance
    Resampling (Xie et al., NeurIPS 2023 — public literature): score
    every raw document by ``ln(p_target(x) / p_raw(x))`` under
    bag-of-hashed-n-gram unigram models, so resampling by weight shifts
    the raw corpus toward the target domain.  The standard
    pretraining-data selection step when a small in-domain sample
    (``target_pred`` rows) should steer selection from a large crawl.

    Features are uni+bi-grams hashed into ``n_buckets`` buckets
    (:func:`text.hash60` — engine-portable, so a SQL oracle reproduces
    every bucket).  With add-1 smoothing, per-bucket term

        t[b] = ln((ct[b]+1)/(Tt+B)) − ln((cr[b]+1)/(Tr+B))

    and a document's log-weight is Σ_b n[b]·t[b] over its per-bucket
    gram counts.  Output: ``(id, n_grams, logw)`` with logw rounded to
    9 decimals.

    Shape (100 TB): one gram explode feeds (a) the B-row bucket count
    table (map-side combinable; B is a constant, the aggregate is tiny
    regardless of corpus size) and (b) per-doc bucket counts; the B-row
    term table broadcasts back; the per-doc reduction folds a SORTED
    (bucket, contribution) array so float addition order is pinned
    under any partitioning, and the terminal 9-decimal round absorbs
    ln's cross-libm last-ulp (the :func:`unigram_logprob` discipline).
    Totals ride a one-row broadcast."""
    from map_reduce_folds_spark.operators.text import (
        hash60, shingles, tokenize)

    B = int(n_buckets)
    tk = df.select(F.col(id_col), target_pred.alias("__t"),
                   tokenize(text_col).alias("tk"))
    grams = tk.select(
        id_col, "__t",
        F.explode(F.concat(F.col("tk"), shingles(F.col("tk"), 2)))
        .alias("gram"),
    ).select(id_col, "__t", (hash60(F.col("gram")) % B).alias("bkt"))
    # the B-row bucket-count table feeds both the totals and the term
    # table — checkpoint IT (tiny), so the corpus-sized gram explode
    # evaluates exactly twice (bucket counts + per-doc counts), never a
    # third time through tot's lineage
    bc = grams.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("ct"),
    ).localCheckpoint(eager=False)
    tot = bc.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    term = bc.crossJoin(F.broadcast(tot)).select(  # one-row scalar idiom
        "bkt",
        (F.log((F.col("ct") + 1).cast("double")
               / (F.col("tt") + B).cast("double"))
         - F.log((F.col("cr") + 1).cast("double")
                 / (F.col("tr") + B).cast("double"))).alias("term"),
    )
    dbc = grams.groupBy(id_col, "bkt").agg(F.count(F.lit(1)).alias("n"))
    contrib = dbc.join(F.broadcast(term), "bkt").select(
        id_col, "bkt", "n",
        (F.col("n").cast("double") * F.col("term")).alias("c"),
    )
    pairs = F.array_sort(F.collect_list(F.struct("bkt", "c")))
    s = F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x["c"])
    return contrib.groupBy(id_col).agg(
        F.sum("n").alias("n_grams"),
        F.round(s, 9).alias("logw"),
    )


def dsir_logweights_sql(
    target_sql: str,
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> str:
    """DuckDB mirror of :func:`dsir_logweights` — same hashed buckets,
    same smoothing arithmetic, same sorted-fold reduction.
    ``target_sql``: boolean SQL over the source row (e.g.
    ``"lang = 'en'"``)."""
    from map_reduce_folds_spark.operators.text import hash60_sql

    B = int(n_buckets)
    h = hash60_sql("gram")
    return f"""
    WITH tk AS (
        SELECT {id_col}, ({target_sql}) AS t,
               string_split({text_col}, ' ') AS tk
        FROM {src}
    ),
    g AS (
        SELECT {id_col}, t, {h} % {B} AS bkt
        FROM (
            SELECT {id_col}, t, unnest(tk) AS gram FROM tk
            UNION ALL
            SELECT {id_col}, t,
                   array_to_string(tk[i.i:i.i+1], ' ') AS gram
            FROM tk, LATERAL (
                SELECT unnest(generate_series(1, len(tk) - 1)) AS i) i
            WHERE len(tk) >= 2
        )
    ),
    bc AS (
        SELECT bkt, COUNT(*) AS cr,
               SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct
        FROM g GROUP BY 1
    ),
    tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bc),
    term AS (
        SELECT bkt,
               ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + {B} AS DOUBLE))
             - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + {B} AS DOUBLE)) AS term
        FROM bc, tot
    ),
    dbc AS (SELECT {id_col}, bkt, COUNT(*) AS n FROM g GROUP BY 1, 2),
    contrib AS (
        SELECT d.{id_col}, d.bkt, d.n,
               CAST(d.n AS DOUBLE) * term.term AS c
        FROM dbc d JOIN term USING (bkt)
    )
    SELECT {id_col}, CAST(SUM(n) AS BIGINT) AS n_grams,
           round(list_reduce(
                     list_prepend(0.0,
                         list_sort(list({{'b': bkt, 'c': c}}))
                             .apply(s -> s.c)),
                     (acc, x) -> acc + x), 9) AS logw
    FROM contrib GROUP BY {id_col}
    """


def observe(df: DataFrame, name: str, metrics: Mapping[str, Column]):
    """Attach free-riding pipeline metrics to a DataFrame: returns
    ``(df, observation)`` where the named aggregate expressions are
    computed DURING the next action on ``df`` — no second scan, which at
    100 TB is the difference between observability and a doubled bill.
    Read ``observation.get`` (dict) after the action completes.

    The standard use: count rows surviving each filter stage of a
    cleaning pipeline in the same job that writes the output.

        df, obs = observe(filtered, "gate", {"n": F.count(F.lit(1)),
                                             "bad": F.sum(F.expr("flag"))})
        df.write.parquet(out)
        stats = obs.get          # {'n': ..., 'bad': ...}

    Thin, typed wrapper over ``pyspark.sql.Observation`` so pipelines in
    this package get one idiom (and tests can pin it); aggregate
    expressions must be the observe-compatible kind (no distinct)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(n) for n, c in metrics.items()]), obs


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier gate via median absolute deviation (the
    Hampel identifier, public literature): flag rows where
    ``|v − median(v)| > k · MAD`` within their group.  Unlike the
    mean/stddev z-score, both center and spread are 50%-breakdown robust
    — a batch of corrupt rows cannot drag the gate open around itself,
    which is exactly the failure mode an ingest-quality gate exists to
    catch.

    Both medians are EXACT lower medians via rank selection over a total
    order — ``(v, id)`` then ``(|v − med|, id)`` — the median_exact
    discipline: deterministic on any engine, no interpolation float
    drift.  Two window passes over the same group partitioning + two
    broadcast-size joins of the per-group scalars; on integer values
    every comparison is integer-exact (``k·MAD`` is the only float
    product).

    Output: one row per input row —
    ``(id_col, group_col, value_col, med, mad, is_outlier)``."""
    from pyspark.sql.window import Window

    wn = Window.partitionBy(group_col)
    w1 = Window.partitionBy(group_col).orderBy(value_col, id_col)
    # NULL values are excluded BEFORE ranking: Spark sorts NULLs first
    # while DuckDB sorts them last, so a NULL-bearing column would make
    # the two engines select different median rows.  A NULL value can
    # be neither a median candidate nor an outlier, so dropping it is
    # the only portable semantics.
    base = (df.select(id_col, group_col, value_col)
            .where(F.col(value_col).isNotNull()))
    r1 = base.select(
        id_col, group_col, value_col,
        F.count(F.lit(1)).over(wn).alias("__n"),
        F.row_number().over(w1).alias("__rn"))
    med = r1.where(
        F.col("__rn") == F.floor((F.col("__n") + 1) / 2).cast("bigint")
    ).select(group_col, F.col(value_col).alias("med"))
    dev = base.join(med, group_col).withColumn(
        "__d", F.abs(F.col(value_col) - F.col("med")))
    w2 = Window.partitionBy(group_col).orderBy("__d", id_col)
    r2 = dev.select(
        group_col, "__d",
        F.count(F.lit(1)).over(wn).alias("__n"),
        F.row_number().over(w2).alias("__rn"))
    mad = r2.where(
        F.col("__rn") == F.floor((F.col("__n") + 1) / 2).cast("bigint")
    ).select(group_col, F.col("__d").alias("mad"))
    return dev.join(mad, group_col).select(
        id_col, group_col, value_col, "med", "mad",
        (F.col("__d") > F.lit(k) * F.col("mad")).alias("is_outlier"))


def mad_outliers_sql(
    src: str,
    group_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.0,
) -> str:
    """DuckDB mirror of :func:`mad_outliers` (same rank-selection lower
    medians, same ``(v, id)`` / ``(d, id)`` total orders)."""
    return f"""
    WITH base AS (SELECT {id_col}, {group_col}, {value_col} FROM {src}
                  WHERE {value_col} IS NOT NULL),
    r1 AS (
        SELECT *, COUNT(*) OVER (PARTITION BY {group_col}) AS n,
               ROW_NUMBER() OVER (PARTITION BY {group_col}
                                  ORDER BY {value_col}, {id_col}) AS rn
        FROM base
    ),
    med AS (SELECT {group_col}, {value_col} AS med FROM r1
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)),
    dev AS (
        SELECT b.*, m.med, abs(b.{value_col} - m.med) AS d
        FROM base b JOIN med m USING ({group_col})
    ),
    r2 AS (
        SELECT {group_col}, d,
               COUNT(*) OVER (PARTITION BY {group_col}) AS n,
               ROW_NUMBER() OVER (PARTITION BY {group_col}
                                  ORDER BY d, {id_col}) AS rn
        FROM dev
    ),
    mad AS (SELECT {group_col}, d AS mad FROM r2
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT))
    SELECT dev.{id_col}, dev.{group_col}, dev.{value_col},
           dev.med AS med, mad.mad AS mad,
           dev.d > {k!r} * mad.mad AS is_outlier
    FROM dev JOIN mad USING ({group_col})
    """


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` token vocabulary — the tokenizer-health /
    vocabulary-coverage gate (a doc whose tokens mostly fall outside the
    head vocabulary will shatter into rare subwords at tokenization
    time; high OOV also flags wrong-language and binary-ish rows the
    unigram perplexity proxy scores differently).

    The vocabulary is the top V tokens by ``(count DESC, token ASC)`` —
    a deterministic total order, computed as a distributed top-k
    (Catalyst's TakeOrderedAndProject — per-partition heaps, never a
    single-task global sort), then BROADCAST back as a membership join
    (V literal rows).  One token scan + one map-side-combinable vocab
    count; per-doc counts are one integer division — bitwise portable.

    Output: ``(id_col, n_tokens, n_oov, oov_rate)``."""
    from map_reduce_folds_spark.operators.text import tokenize

    toks = df.select(F.col(id_col),
                     F.explode(tokenize(text_col)).alias("tok"))
    vocab = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok").limit(vocab_size)
        .select("tok", F.lit(1).alias("__in"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_oov"))
        .select(id_col, "n_tokens", "n_oov",
                (F.col("n_oov").cast("double") / F.col("n_tokens"))
                .alias("oov_rate"))
    )


def oov_rate_sql(
    src: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> str:
    """DuckDB mirror of :func:`oov_rate` (same (count DESC, token ASC)
    vocabulary order, same occurrence counting)."""
    return f"""
    WITH tk AS (SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS tok
                FROM {src}),
    vocab AS (
        SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1)
        ORDER BY cnt DESC, tok LIMIT {vocab_size}
    )
    SELECT tk.{id_col}, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS oov_rate
    FROM tk LEFT JOIN vocab v USING (tok)
    GROUP BY 1
    """


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two corpus
    snapshots on one column: ``KS = max_x |F_a(x) − F_b(x)|`` over the
    empirical CDFs — the drift gate with guaranteed sensitivity to ANY
    distributional change (PSI needs a bucket grid chosen in advance;
    KS is grid-free and catches shifts PSI's equi-width buckets can
    wash out).  Complements :func:`drift_psi`, same two-snapshot calling
    shape.

    One count-per-distinct-value aggregation per snapshot (map-side
    combinable), a full outer join on value, then the running CDFs ride
    ONE sorted-array fold (the :func:`drift_psi` determinism discipline
    — no global-order window, no partitioning dependence): the fold
    accumulates both cumulative counts and the max CDF gap in a struct.
    Distinct-value cardinality bounds the fold array — suited to
    measures with bounded support (lengths, scores, counts); for
    unbounded continuous columns bucket first.

    Pure rational arithmetic (counts divided by totals, abs, max) —
    bitwise portable, no rounding needed.  Output: one row
    ``(ks, n_a, n_b)``."""
    ca = a.groupBy(F.col(col).alias("v")) \
        .agg(F.count(F.lit(1)).alias("na"))
    cb = b.groupBy(F.col(col).alias("v")) \
        .agg(F.count(F.lit(1)).alias("nb"))
    j = ca.join(cb, "v", "full").select(
        "v",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"))
    tot = j.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    jt = j.crossJoin(F.broadcast(tot))  # one-row scalar idiom
    rows = F.array_sort(F.collect_list(F.struct("v", "na", "nb")))
    init = F.struct(F.lit(0).cast("bigint").alias("ca"),
                    F.lit(0).cast("bigint").alias("cb"),
                    F.lit(0.0).alias("m"))
    step = lambda acc, x: F.struct(  # noqa: E731 — fold step
        (acc["ca"] + x["na"]).alias("ca"),
        (acc["cb"] + x["nb"]).alias("cb"),
        F.greatest(
            acc["m"],
            F.abs((acc["ca"] + x["na"]).cast("double") / F.col("ta")
                  - (acc["cb"] + x["nb"]).cast("double") / F.col("tb"))
        ).alias("m"))
    return (
        jt.groupBy("ta", "tb")
        .agg(F.aggregate(rows, init, step).alias("acc"))
        .select(F.col("acc")["m"].alias("ks"),
                F.col("ta").alias("n_a"), F.col("tb").alias("n_b"))
    )


def ks_statistic_sql(a_src: str, b_src: str, expr: str) -> str:
    """DuckDB mirror of :func:`ks_statistic` — same per-value counts and
    totals; the running CDFs ride a cumulative window over the distinct
    values (a fine oracle-side idiom: the no-global-window discipline
    constrains the SPARK plan, and DuckDB's single-node window is exact
    over the bounded distinct-value relation).  A list_reduce mirror of
    the Spark fold was tried first and mis-accumulated on the full
    fixture (0.120 vs the 0.116 reference) while passing small cases —
    the window form is verified against an independent Python fold."""
    return f"""
    WITH ca AS (SELECT {expr} AS v, COUNT(*) AS na FROM {a_src} GROUP BY 1),
    cb AS (SELECT {expr} AS v, COUNT(*) AS nb FROM {b_src} GROUP BY 1),
    j AS (
        SELECT COALESCE(ca.v, cb.v) AS v,
               COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
        FROM ca FULL JOIN cb ON ca.v = cb.v
    ),
    t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
                 CAST(SUM(nb) AS BIGINT) AS tb FROM j),
    r AS (
        SELECT CAST(SUM(na) OVER w AS DOUBLE) AS cca,
               CAST(SUM(nb) OVER w AS DOUBLE) AS ccb, ta, tb
        FROM j, t
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(MAX(abs(cca / ta - ccb / tb)) AS DOUBLE) AS ks,
           MIN(ta) AS n_a, MIN(tb) AS n_b
    FROM r
    """


def nb_classify(
    df: DataFrame,
    class_col: str,
    train_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes document classifier over hashed token
    features — the classic trained quality/domain filter (the
    fastText-style classifier gate of GPT-3/CCNet-era pipelines, public
    literature: McCallum & Nigam 1998 workshop formulation; hashing
    trick per Weinberger et al. 2009).  Trains on the rows matching
    ``train_pred`` (labels from ``class_col``), scores EVERY row, and
    returns ``(id, pred, score)`` — the argmax class and its rounded
    log-posterior.

    Model: per-class hashed-unigram counts with add-``alpha`` smoothing,

        score(d, c) = ln(dc_c/dt) + Σ_b n_b·ln((cnt_{b,c}+α)/(tot_c+αB))

    computed via the absent-bucket identity

        Σ_b n_b·ln(cnt+α)  =  Σ_{b present} n_b·ln(cnt+α) + (N−m)·ln(α)

    (present = (class, bucket) pairs seen in training; m = Σ present
    n_b) so the corpus side INNER-joins the bounded B×K model relation —
    absent buckets are never materialized, and the only per-document
    blow-up is the K-row class skeleton.

    Shape (100 TB): one token explode → per-doc bucket counts (map-side
    combinable); the model (≤ B·K rows, a constant) broadcasts; the
    per-(doc, class) reduction folds a SORTED (bucket, contribution)
    array (the :func:`unigram_logprob` discipline) and every ln-bearing
    term is a single correctly-rounded op, so the 9-decimal round makes
    the score engine-exact.  Argmax is two portable aggregates (max
    score, then min class among ties) — no engine-specific arg_max tie
    rule.  Composition of :func:`nb_fit` + :func:`nb_score` (fit once,
    score many — e.g. each micro-batch of a stream)."""
    return nb_score(
        df, nb_fit(df, class_col, train_pred, text_col, n_buckets),
        id_col, text_col, n_buckets, alpha)


def nb_fit(
    df: DataFrame,
    class_col: str,
    train_pred: Column | None = None,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Fit the multinomial NB model on the rows matching ``train_pred``
    (all rows when None): returns the two BOUNDED model relations
    ``(counts, class_info)`` — ``counts = (cls, bkt, cnt)`` hashed-token
    counts (≤ B·K rows, lazily localCheckpoint'd so the corpus explode
    never re-evaluates through the model's lineage) and ``class_info =
    (cls, tot, dc, dt)`` class totals/priors.  Fit once, score many:
    :func:`nb_score` applies the model to any relation; the model is
    bounded, so it is exactly what survives a broadcast."""
    from map_reduce_folds_spark.operators.text import hash60, tokenize

    B = int(n_buckets)
    tr = df if train_pred is None else df.where(train_pred)
    tk = tr.select(F.col(class_col).alias("__cls"),
                   tokenize(text_col).alias("tk"))
    g = tk.select("__cls", F.explode("tk").alias("tok")) \
        .select("__cls", (hash60(F.col("tok")) % B).alias("bkt"))
    cc = (g.groupBy(F.col("__cls").alias("cls"), "bkt")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .localCheckpoint(eager=False))
    ct = cc.groupBy("cls").agg(F.sum("cnt").alias("tot"))
    pr = tk.groupBy(F.col("__cls").alias("cls")) \
           .agg(F.count(F.lit(1)).alias("dc"))
    dt = pr.agg(F.sum("dc").alias("dt"))
    cls_info = (ct.join(pr, "cls")
                  .crossJoin(F.broadcast(dt)))  # one-row scalar idiom
    return cc, cls_info


def nb_score(
    df: DataFrame,
    model: "tuple[DataFrame, DataFrame]",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """Score every row of ``df`` under a fitted NB ``model``
    (:func:`nb_fit`): ``(id, pred, score)`` — the scoring half of
    :func:`nb_classify`, separated so one fitted model can score many
    relations (held-out sets, fresh crawl batches, micro-batches of a
    stream).  Arithmetic identical to :func:`nb_classify` — same
    absent-bucket identity, sorted fold, 9-decimal round, two-step
    argmax."""
    import math

    from map_reduce_folds_spark.operators.text import hash60, tokenize
    from pyspark.sql.window import Window

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    B = int(n_buckets)
    a = float(alpha)
    ln_a = math.log(a) if a != 1.0 else 0.0  # exact 0.0 when α=1
    cc, cls_info = model
    tk = df.select(F.col(id_col), tokenize(text_col).alias("tk"))
    g = tk.select(id_col, F.explode("tk").alias("tok")) \
        .select(id_col, (hash60(F.col("tok")) % B).alias("bkt"))
    db = g.groupBy(id_col, "bkt").agg(F.count(F.lit(1)).alias("n"))
    dn = db.groupBy(id_col).agg(F.sum("n").alias("__N"))
    fold_in = db.join(F.broadcast(cc), "bkt").select(
        id_col, "cls", "n", "bkt",
        (F.col("n").cast("double")
         * F.log(F.col("cnt").cast("double") + F.lit(a))).alias("c"),
    )
    pairs = F.array_sort(F.collect_list(F.struct("bkt", "c")))
    s = F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x["c"])
    folded = fold_in.groupBy(id_col, "cls").agg(
        s.alias("__s"), F.sum("n").alias("__m"))
    skel = dn.crossJoin(F.broadcast(cls_info))
    scores = skel.join(folded, [id_col, "cls"], "left").select(
        id_col, "cls",
        F.round(
            F.coalesce("__s", F.lit(0.0))
            + (F.col("__N") - F.coalesce("__m", F.lit(0))).cast("double")
            * F.lit(ln_a)
            - F.col("__N").cast("double")
            * F.log(F.col("tot").cast("double") + F.lit(a * B))
            + F.log(F.col("dc").cast("double") / F.col("dt").cast("double")),
            9,
        ).alias("score"),
    )
    w = Window.partitionBy(id_col)
    return (scores.withColumn("__mx", F.max("score").over(w))
            .where(F.col("score") == F.col("__mx"))
            .groupBy(id_col)
            .agg(F.min("cls").alias("pred"), F.max("score").alias("score")))


def nb_classify_sql(
    train_sql: str,
    src: str = "documents",
    class_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> str:
    """DuckDB mirror of :func:`nb_classify` — same hashed buckets, same
    smoothing identity, same sorted-fold order, same two-step argmax.
    ``train_sql``: boolean SQL over the source row (e.g.
    ``"doc_id % 2 = 0"``)."""
    import math

    from map_reduce_folds_spark.operators.text import hash60_sql

    B = int(n_buckets)
    a = float(alpha)
    ln_a = repr(math.log(a)) if a != 1.0 else "0.0"
    h = hash60_sql("tok")
    return f"""
    WITH tk AS (
        SELECT {id_col}, {class_col} AS cls0, ({train_sql}) AS tr,
               string_split({text_col}, ' ') AS tk
        FROM {src}
    ),
    g AS (
        SELECT {id_col}, cls0, tr, {h} % {B} AS bkt
        FROM (SELECT {id_col}, cls0, tr, unnest(tk) AS tok FROM tk)
    ),
    db AS (SELECT {id_col}, bkt, COUNT(*) AS n FROM g GROUP BY 1, 2),
    dn AS (SELECT {id_col}, SUM(n) AS nn FROM db GROUP BY 1),
    cc AS (SELECT cls0 AS cls, bkt, COUNT(*) AS cnt
           FROM g WHERE tr GROUP BY 1, 2),
    ct AS (SELECT cls, SUM(cnt) AS tot FROM cc GROUP BY 1),
    pr AS (SELECT cls0 AS cls, COUNT(*) AS dc FROM tk WHERE tr GROUP BY 1),
    dt AS (SELECT SUM(dc) AS dt FROM pr),
    fold AS (
        SELECT d.{id_col}, cc.cls,
               list_reduce(
                   list_prepend(0.0,
                       list_sort(list({{'b': d.bkt,
                                        'c': CAST(d.n AS DOUBLE)
                                             * ln(CAST(cc.cnt AS DOUBLE)
                                                  + {a!r})}}))
                           .apply(s -> s.c)),
                   (acc, x) -> acc + x) AS s,
               SUM(d.n) AS m
        FROM db d JOIN cc USING (bkt) GROUP BY 1, 2
    ),
    scores AS (
        SELECT dn.{id_col}, ci.cls,
               round(COALESCE(f.s, 0.0)
                     + CAST(dn.nn - COALESCE(f.m, 0) AS DOUBLE) * {ln_a}
                     - CAST(dn.nn AS DOUBLE)
                       * ln(CAST(ci.tot AS DOUBLE) + {a * B!r})
                     + ln(CAST(ci.dc AS DOUBLE) / CAST(ci.dt AS DOUBLE)),
                     9) AS score
        FROM dn
        CROSS JOIN (SELECT ct.cls, ct.tot, pr.dc, dt.dt
                    FROM ct JOIN pr USING (cls), dt) ci
        LEFT JOIN fold f ON f.{id_col} = dn.{id_col} AND f.cls = ci.cls
    ),
    mx AS (
        SELECT {id_col}, cls, score,
               MAX(score) OVER (PARTITION BY {id_col}) AS m
        FROM scores
    )
    SELECT {id_col}, MIN(cls) AS pred, MAX(score) AS score
    FROM mx WHERE score = m GROUP BY {id_col}
    """


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean BIGRAM log-probability under the corpus's own
    add-α-smoothed bigram LM — the next quality filter up from
    :func:`unigram_logprob` (a unigram model cannot see scrambled or
    repetitive token ORDER; a bigram model scores "the the the" and
    bag-of-frequent-words spam as improbable).  Output:
    ``(id, n_bigrams, mean_logprob)`` with

        p(w_i | w_{i-1}) = (c2(w_{i-1}, w_i) + α) / (c1(w_{i-1}) + α·V)
        mean_logprob = round(Σ_{i≥1} ln p(w_i|w_{i-1}) / n_bigrams, 9)

    where ``c1`` counts occurrences as HISTORIES (every position that
    has a successor), so each conditional sums to 1 over the V-token
    vocabulary — the textbook Laplace bigram model (Jurafsky & Martin
    ch. 3, public literature).  Documents with < 2 tokens have no
    bigrams and drop out (no evidence).

    Shape (100 TB): one bigram explode feeds ONE map-side-combinable
    count aggregation (distinct-bigram counts); history counts derive
    from that vocabulary-sized relation (``c1(w) = Σ_{w'} c2(w, w')``)
    rather than a second corpus scan; scoring joins the bigram stream to
    both count relations on their keys (hot stopword histories skew the
    join input, but rows are skinny and AQE splits oversized partitions —
    the :func:`unigram_logprob` note); V rides a one-row broadcast; the
    per-doc sum folds a SORTED (pos, term) array and each term is
    division + ln (two correctly-rounded ops), so the 9-decimal round
    makes the score engine-exact."""
    from map_reduce_folds_spark.operators.text import shingles, tokenize

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    a = float(alpha)
    tk = df.select(F.col(id_col), tokenize(text_col).alias("tk"))
    big = tk.select(
        id_col,
        F.posexplode(shingles(F.col("tk"), 2)).alias("pos", "bg"),
    ).select(id_col, "pos", "bg",
             F.split(F.col("bg"), " ").getItem(0).alias("w1"))
    # history counts derive from the DISTINCT-BIGRAM relation, not the
    # corpus: c1(w) = Σ_{w'} c2(w, w') — one aggregation over the
    # vocabulary-sized c2 instead of a second corpus-sized scan
    c2 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy(F.split(F.col("bg"), " ").getItem(0).alias("h")) \
        .agg(F.sum("c2").alias("c1"))
    vocab = tk.select(F.explode("tk").alias("tok")) \
        .agg(F.count_distinct("tok").alias("v"))
    terms = (
        big.join(c2, "bg")
        .join(c1, big["w1"] == c1["h"])
        .crossJoin(F.broadcast(vocab))  # one-row scalar idiom
        .select(
            id_col, "pos",
            F.log((F.col("c2").cast("double") + F.lit(a))
                  / (F.col("c1").cast("double")
                     + F.col("v").cast("double") * F.lit(a))).alias("term"),
        )
    )
    pairs = F.array_sort(F.collect_list(F.struct("pos", "term")))
    s = F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x["term"])
    return terms.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(s / F.count(F.lit(1)).cast("double"), 9)
         .alias("mean_logprob"),
    )


def bigram_logprob_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> str:
    """DuckDB mirror of :func:`bigram_logprob` — same history-count
    semantics, same division+ln term, same sorted-fold order."""
    a = float(alpha)
    return f"""
    WITH tk AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS tk FROM {src}
    ),
    big AS (
        SELECT {id_col}, i.i AS pos,
               array_to_string(tk[i.i+1:i.i+2], ' ') AS bg,
               tk[i.i+1] AS w1
        FROM tk, LATERAL (SELECT unnest(range(len(tk) - 1)) AS i) i
        WHERE len(tk) >= 2
    ),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY 1),
    c1 AS (SELECT string_split(bg, ' ')[1] AS h, SUM(c2) AS c1
           FROM c2 GROUP BY 1),
    v AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest(tk) AS tok FROM tk)
    ),
    terms AS (
        SELECT big.{id_col}, big.pos,
               ln((CAST(c2.c2 AS DOUBLE) + {a!r})
                  / (CAST(c1.c1 AS DOUBLE)
                     + CAST(v.v AS DOUBLE) * {a!r})) AS term
        FROM big JOIN c2 USING (bg) JOIN c1 ON big.w1 = c1.h, v
    )
    SELECT {id_col}, COUNT(*) AS n_bigrams,
           round(list_reduce(
                     list_prepend(0.0,
                         list_sort(list({{'p': pos, 't': term}}))
                             .apply(s -> s.t)),
                     (acc, x) -> acc + x)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS mean_logprob
    FROM terms GROUP BY {id_col}
    """


# Benford expected first-digit shares log10(1 + 1/d), d = 1..9 — computed
# ONCE here and injected as the same double literals into the Spark plan
# and the SQL mirror, so no engine evaluates a transcendental at runtime.
_BENFORD_SHARES = [0.3010299956639812, 0.17609125905568124,
                   0.12493873660829993, 0.09691001300805642,
                   0.07918124604762482, 0.06694678963061322,
                   0.05799194697768673, 0.05115252244738129,
                   0.04575749056067514]


def benford_audit(
    df: DataFrame,
    value_col: str,
    min_cents: int = 1,
) -> DataFrame:
    """First-significant-digit BENFORD audit of a positive monetary
    column — the classic synthetic-/fabricated-data screen (naturally
    occurring multiplicative amounts follow ``P(d) = log10(1+1/d)``;
    generated or tampered columns usually don't): per digit 1–9, the
    observed count, the Benford-expected count, and the chi-square
    contribution ``(obs − exp)²/exp``.  A fixture column drawn uniform
    will FAIL this audit loudly — that is the point of registering it:
    the audit's job is to measure divergence, not to assert conformity.

    Numeric policy: values fixed-point to integer cents via
    ``DECIMAL(12,2)`` (the q1 rounding bridge), the leading digit is
    taken from the INTEGER's string form (integer→string has no
    formatting freedom in either engine, unlike float printing), the
    expected shares are compile-time literals (no runtime log10), and
    every double op is a single IEEE step — bitwise-portable with no
    rounding discipline needed.

    Shape: one filter+project scan, one 9-group aggregate, a broadcast
    one-row total (the accepted scalar idiom), LEFT join against a
    9-row literal digit spine so absent digits emit obs=0.

    Output: ``(digit, obs, expected, chi2_term)``, 9 rows."""
    cents = (
        df.select(((F.col(value_col).cast("decimal(12,2)") * 100)
                   .cast("bigint")).alias("c"))
        .where(F.col("c") >= int(min_cents))
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int")
        .alias("digit"))
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs"))
    n = digits.agg(
        F.count(F.lit(1)).cast("double").alias("__n"))
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d + 1, _BENFORD_SHARES[d]) for d in range(9)],
        "digit int, share double")
    out = (
        spine.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("obs"), F.lit(0).cast("bigint")).alias("obs"),
            (F.col("__n") * F.col("share")).alias("expected"),
            F.col("__n"), F.col("share"))
    )
    dev = F.col("obs").cast("double") - F.col("expected")
    return out.select(
        "digit", "obs", "expected",
        (dev * dev / F.col("expected")).alias("chi2_term"))


def benford_audit_sql(
    src: str,
    value_expr: str,
    min_cents: int = 1,
) -> str:
    """DuckDB mirror of :func:`benford_audit`: the identical cents cast,
    integer-string leading digit, literal shares, and single-step double
    arithmetic."""
    # scientific-notation literals parse DIRECTLY as DOUBLE in DuckDB;
    # plain decimal literals parse as DECIMAL first and the extra
    # decimal→double conversion DOUBLE-ROUNDS one of the nine shares off
    # by an ulp (measured at sf0.01)
    spine = ", ".join(
        f"({d + 1}, {_BENFORD_SHARES[d]:.17e})" for d in range(9))
    return f"""
    WITH cents AS (
        SELECT CAST(CAST({value_expr} AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        FROM {src}
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
        FROM cents WHERE c >= {int(min_cents)}
    ),
    obs AS (SELECT digit, COUNT(*) AS obs FROM digits GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM digits),
    spine(digit, share) AS (VALUES {spine})
    SELECT s.digit,
           CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs,
           n.n * s.share AS expected,
           (CAST(COALESCE(o.obs, 0) AS DOUBLE) - n.n * s.share)
           * (CAST(COALESCE(o.obs, 0) AS DOUBLE) - n.n * s.share)
           / (n.n * s.share) AS chi2_term
    FROM spine s LEFT JOIN obs o USING (digit), n
    """
