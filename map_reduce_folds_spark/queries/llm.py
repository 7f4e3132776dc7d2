"""LLM-data-pipeline queries: dedup, similarity search, text analysis.

Every deterministic pipeline here carries an exact DuckDB oracle — including
the full MinHash-LSH near-dup pipeline, whose oracle is generated SQL that
mirrors the Spark plan hash-for-hash (portable md5-based hash60, see
operators/text.py).  Only the sign-random-projection ANN query is rows-only
(its recall is probabilistic by design; tests/test_llm.py checks recall
against the brute-force baseline instead).
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators import dedup as D
from map_reduce_folds_spark.operators import graph as G2
from map_reduce_folds_spark.operators import quality as Q
from map_reduce_folds_spark.operators import sampling as SM
from map_reduce_folds_spark.operators import similarity as S
from map_reduce_folds_spark.operators import sketches as K
from map_reduce_folds_spark.operators import text as T
from map_reduce_folds_spark.queries.registry import ORACLES, query
from map_reduce_folds_spark.sources import load_table

# shared hyperparameters (Spark impl and SQL oracle must agree)
_N = 3            # shingle n-gram size
_K = 16           # minhash signature length
_BANDS = 8        # LSH bands (rows = _K // _BANDS = 2)
_JT = 0.5         # jaccard threshold
_DIM = 64         # embedding dimension
_TOPK = 10
_COS_T = 0.4      # embedding near-dup threshold (fixture embeddings are
                  # random; max pairwise cosine ≈ 0.51)

_H60 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def _h60(x: str) -> str:
    return _H60.format(x=x)


# SQL building block: distinct hashed n-gram shingles per doc, mirroring
# operators/text.distinct_shingle_hashes (n=_N).
_SH_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
    SELECT DISTINCT doc_id,
           {_h60(f"array_to_string(tk[g.gs:g.gs+{_N - 1}], ' ')")} AS h
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - {_N - 1})) AS gs) g
    WHERE len(tk) >= {_N}
)"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr,
           least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.4
             + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) * 0.4
             + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                           t -> length(t) <= 2)) AS DOUBLE)
                      / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.2
               AS quality
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: token count, char count, lexical
    diversity, composite quality score — all Catalyst expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        T.type_token_ratio(toks).alias("ttr"),
        T.quality_score("text").alias("quality"),
    )


def _lang_id_sql() -> str:
    score = {
        lang: f"len(list_intersect(tk, {list(words)}))"
        for lang, words in T.LANG_MARKERS.items()
    }
    langs = list(T.LANG_MARKERS)
    gmax = f"greatest({', '.join(score[lg] for lg in langs)})"
    case = f"CASE WHEN {gmax} = 0 THEN 'und' " + " ".join(
        f"WHEN {score[lg]} = {gmax} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents)
    SELECT lang, {case} AS pred, COUNT(*) AS n
    FROM t GROUP BY 1, 2
    """


@query("lang_id_confusion", oracle=_lang_id_sql())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID vs the labeled lang column, as a confusion
    table.  argmax with first-wins tie-break (order = LANG_MARKERS order).

    NOTE: the fixture corpus is the same English-ish token vocabulary for
    every lang label (the label is independent metadata), so no text-based
    classifier can recover it — the confusion matrix here validates the
    OPERATOR differentially, not classifier accuracy.  On real multilingual
    text the marker lexicons discriminate normally."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("lang", T.lang_id("text").alias("pred")).groupBy(
        "lang", "pred"
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "token_count_bpe",
    oracle=r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)) AS DOUBLE)
               / COUNT(*) AS mean_tokens
    FROM documents GROUP BY 1
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish) token counting aggregated per source — integer sums
    are exact, mean is one double division."""
    d = load_table(spark, sf_dir, "documents")
    tc = T.token_count_regex("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("total_tokens"),
        (F.sum(tc).cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
    )


@query(
    "doc_fingerprints",
    oracle=f"""
    WITH {_SH_CTE}
    SELECT d.doc_id, {_h60('d.text')} AS fp,
           (SELECT COUNT(*) FROM sh WHERE sh.doc_id = d.doc_id) AS n_shingles
    FROM documents d
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document fingerprint (60-bit md5 digest) + shingle-set size."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.doc_fingerprint("text").alias("fp"),
        F.size(T.distinct_shingle_hashes("text", _N)).cast("bigint").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

def _planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-keyed copies of every 10th doc — a corpus with known
    exact duplicates, derived purely from the fixture."""
    d = load_table(spark, sf_dir, "documents")
    dups = d.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return d.unionByName(dups)


_PLANTED_SQL = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)"""


@query(
    "dedup_exact",
    oracle=f"""
    WITH {_PLANTED_SQL}
    SELECT {_h60('text')} AS digest, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by text digest over a corpus with planted duplicates:
    keep lowest id, report copy counts (only actual dup groups)."""
    c = _planted(spark, sf_dir)
    return (
        D.exact_dedup_keep_first(c, "text", "doc_id")
        .filter("n_copies > 1")
        .select(F.col("__digest").alias("digest"),
                F.col("doc_id").alias("keep_id"), "n_copies")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {_JT}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL near-dup pairs with 3-gram Jaccard ≥ 0.5, exactly — via the
    distinct-SET factored inverted index
    (operators/dedup.ngram_jaccard_pairs_factored, property-proven equal
    to the doc-level form): same-set docs emit jaccard-1.0 cliques
    directly, the index join runs over one representative per distinct
    set — measured 6.9 → 4.1 s at sf0.1 and 8.6 → 5.9 s at the 10×
    synthetic vs the unfactored join.  The oracle brute-forces the
    doc-level index (identical pairs and scores)."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_factored(d, "doc_id", "text", n=_N,
                                          threshold=_JT)


_CONT_T = 0.8     # containment threshold (asymmetric near-dup)


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(c AS BIGINT) AS common,
           CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           CAST(c AS DOUBLE) / least(sa.sz, sb.sz) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / least(sa.sz, sb.sz) >= {_CONT_T}
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL pairs with 3-gram shingle CONTAINMENT ≥ 0.8
    (operators/dedup.shingle_containment_pairs): asymmetric
    near-duplication — |A ∩ B| / min(|A|, |B|) catches a short document
    quoted wholesale inside a long host, which symmetric Jaccard misses
    (J ≈ |A|/|B| → 0 as the host grows).  Runs via the distinct-SET
    factored index (operators/dedup.shingle_containment_pairs_factored,
    property-proven equal — the dedup_ngram_jaccard reroute applied to
    containment); the quote/subset axis of the dedup audit."""
    d = load_table(spark, sf_dir, "documents")
    return D.shingle_containment_pairs_factored(d, "doc_id", "text", n=_N,
                                                threshold=_CONT_T)


@query(
    "duplicate_ngram_audit",
    oracle=f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents),
    g AS (
        SELECT doc_id,
               {_h60(f"array_to_string(t[u.i:u.i+{_N - 1}], ' ')")} AS gh
        FROM tk, LATERAL (SELECT unnest(generate_series(
                              1, len(t) - {_N - 1})) AS i) u
        WHERE len(t) >= {_N}
    ),
    nd AS (SELECT gh, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1),
    per AS (
        SELECT g.doc_id, COUNT(*) AS n_ngrams,
               CAST(SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup
        FROM g JOIN nd USING (gh) GROUP BY 1
    )
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup,
           CASE WHEN per.n_ngrams > 0
                THEN CAST(per.n_dup AS DOUBLE) / per.n_ngrams
           END AS dup_frac
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    """,
)
def duplicate_ngram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus duplicated 3-gram fraction
    (operators/dedup.duplicate_ngram_stats — the Lee et al. 2022 corpus
    audit metric): the share of each document's n-gram occurrences that
    belong to n-grams appearing in ≥ 2 distinct documents.  One token
    scan, document-frequency agg on fixed-width gram hashes (map-side
    combinable), one join back; short documents restore with zero counts
    and a NULL fraction."""
    d = load_table(spark, sf_dir, "documents")
    return D.duplicate_ngram_stats(d, "doc_id", "text", n=_N, min_docs=2)


def _mad_oracle() -> str:
    from map_reduce_folds_spark.operators.quality import mad_outliers_sql

    return mad_outliers_sql("documents", "lang", "n_chars", "doc_id", k=3.0)


@query("mad_outlier_docs", oracle=_mad_oracle())
def mad_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier gate
    (operators/quality.mad_outliers — the Hampel identifier): flag
    documents whose character length deviates from their language's
    median by more than 3 MADs.  Median and MAD are both exact lower
    medians via rank selection (the median_exact discipline), so on the
    integer n_chars column every comparison is integer-exact; 50%-
    breakdown robustness means a batch of corrupt rows cannot drag the
    gate open around itself, unlike the mean/stddev z-score."""
    from map_reduce_folds_spark.operators.quality import mad_outliers

    d = load_table(spark, sf_dir, "documents")
    return mad_outliers(d, "lang", "n_chars", "doc_id", k=3.0)


def _oov_oracle() -> str:
    from map_reduce_folds_spark.operators.quality import oov_rate_sql

    return oov_rate_sql("documents", "doc_id", "text", vocab_size=200)


@query("oov_rate_docs", oracle=_oov_oracle())
def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-200 token vocabulary (operators/quality.oov_rate) — the
    vocabulary-coverage / tokenizer-health gate.  The vocabulary is a
    deterministic distributed top-k by (count DESC, token ASC)
    (TakeOrderedAndProject, never a single-task global sort) broadcast
    back as a membership join; per-doc counts are one integer
    division."""
    from map_reduce_folds_spark.operators.quality import oov_rate

    d = load_table(spark, sf_dir, "documents")
    return oov_rate(d, "doc_id", "text", vocab_size=200)


def _minhash_oracle(sh_cte: str | None = None) -> str:
    from map_reduce_folds_spark.operators.dedup import _mh_coeffs

    rows = _K // _BANDS
    mins = ",\n           ".join(
        "MIN(({a} * (h % 2147483648) + {b}) % 2147483647) AS m{i}".format(
            a=_mh_coeffs(i)[0], b=_mh_coeffs(i)[1], i=i
        )
        for i in range(_K)
    )
    bandcols = ",\n           ".join(
        " + ".join(
            f"m{b * rows + r} * {2147483648 ** (rows - 1 - r)}"
            for r in range(rows)
        )
        + f" AS b{b}"
        for b in range(_BANDS)
    )
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_idx, b{b} AS digest FROM bandh"
        for b in range(_BANDS)
    )
    return f"""
    WITH {sh_cte if sh_cte is not None else _SH_CTE},
    sig AS (
        SELECT doc_id,
           {mins}
        FROM sh GROUP BY doc_id
    ),
    bandh AS (
        SELECT doc_id,
           {bandcols}
        FROM sig
    ),
    bandrows AS (
{band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bandrows a JOIN bandrows b
          ON a.band_idx = b.band_idx AND a.digest = b.digest
         AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS cc
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(cc AS DOUBLE) / (sa.sz + sb.sz - cc) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(cc AS DOUBLE) / (sa.sz + sb.sz - cc) >= {_JT}
    """


@query("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) + LSH(8 bands × 2 rows) near-dup pairs, exact-Jaccard
    verified at ≥ 0.5.  Fully deterministic (md5-salted permutations), so
    the oracle reproduces the whole pipeline — including which pairs LSH
    surfaces — in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dup_pairs(
        d, "doc_id", "text", n=_N, k=_K, bands=_BANDS, threshold=_JT
    )


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {D.simhash_sql('text', 60)} AS sig
    FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signature per document (bit-for-bit SQL oracle).
    Registered at the full informative width — signature width is a
    scale parameter (operators/dedup.simhash_auto_bits: 32-bit
    birthday-saturates at ~1M docs); all dedup_simhash* rows pin 60."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", D.simhash("text", 60).alias("sig"))


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 of 60 bits) via pigeonhole
    blocking over DISTINCT signatures (dedup.simhash_near_dup_pairs_
    factored — the doc-level block join measured quadratic in bucket
    occupancy at 10×; the factored set is property-proven identical).
    The oracle brute-forces all pairs — valid because blocking is
    provably complete (tests/test_llm.py proves set equality too)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs_factored(d, "doc_id", "text", bits=60,
                                             max_hamming=3, blocks="auto")


@query(
    "dedup_cc_clusters",
    oracle=f"""
    WITH RECURSIVE
    sig AS (SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    )
    SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based near-dup dedup: SimHash near-dup graph (hamming ≤ 3)
    → distributed connected components (hash-to-min) → (doc_id, canonical
    component = min doc id in the cluster).  The transitive closure is the
    point: A~B and B~C collapse into one cluster even when A~C never
    surfaced as a pair.  Uses the distinct-signature factoring
    (operators/dedup.simhash_components): identical-sig docs connect by
    star to their rep, pigeonhole pair-gen runs over distinct sigs only
    (37× fewer edges at sf0.1, identical components — property-tested).
    The oracle computes the same closure with a recursive CTE over the
    doc-level pair graph — same components by the factoring argument,
    verified by hash."""
    d = load_table(spark, sf_dir, "documents")
    comp = D.simhash_components(d, "doc_id", "text", bits=60,
                                max_hamming=3, blocks="auto")
    return comp.select(F.col("node").alias("doc_id"), "component")


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH q8 AS ({S.quantize_int8_sql()})
    SELECT vec_id, scale,
           unnest(range(len(qvec))) AS idx,
           unnest(qvec) AS q
    FROM q8
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus —
    the 4× storage-compression step of an ANN index build.  The operator
    (:func:`similarity.quantize_int8`) returns ``(vec_id, scale,
    qvec tinyint[])``; for the correctness gate the registered query
    posexplodes the code array into scalar rows ``(vec_id, scale, idx,
    q)`` because the driver's canonicalizer cannot hash array-typed cells
    (round-5 red row).  The oracle unnests ``qvec`` and ``range(len)``
    in lockstep — DuckDB zips same-SELECT unnests positionally, matching
    posexplode's 0-based index.  Pure Catalyst transform/aggregate; scale
    and rounding mirrored bitwise."""
    e = load_table(spark, sf_dir, "embeddings")
    q8 = S.quantize_int8(e, "vec_id", "embedding")
    return q8.select(
        "vec_id", "scale", F.posexplode("qvec").alias("idx", "q"),
    ).withColumn("idx", F.col("idx").cast("long"))


# SRP-LSH oracle geometry.  The registered embedding-dedup queries run the
# operator's ``n_planes="auto"`` occupancy rule (similarity.auto_srp_params:
# occupancy shrinks past the 4096-row knee so candidates stay ~linear,
# tables compensate recall); the static
# DuckDB oracle must embed ONE geometry, so these constants are the auto
# resolution at every committed fixture (embeddings: 500 rows at
# sf0.001/sf0.01, 2000 at sf0.1 — all ≤ 2^6·64, hence base 6/8).  Guarded by
# tests/test_llm.py::test_srp_oracle_geometry_matches_auto — if a fixture
# ever grows past 4096 embeddings the test fails loudly instead of the
# oracle silently diverging.
_SRP_PLANES = 6   # SRP-LSH hyperplanes per table
_SRP_TABLES = 8   # SRP-LSH tables


def _emb_lsh_cand_sql(src: str = "embeddings") -> str:
    """CTE fragment: SRP bucket rows + distinct candidate pairs, mirroring
    operators/similarity.embedding_near_dup_pairs_lsh bucket-for-bucket.
    ``src``: the ``(vec_id, embedding)`` relation to bucket (a prior CTE
    name works — used by the t09 perturbed-union registration)."""
    branches = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, {t} AS tbl, "
        f"{S.srp_signature_sql('embedding', _DIM, _SRP_PLANES, t)} AS bucket "
        f"FROM {src}"
        for t in range(_SRP_TABLES)
    )
    return f"""
    srp_buckets AS (
{branches}
    ),
    emb_cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM srp_buckets a JOIN srp_buckets b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )"""


@query(
    "dedup_embedding",
    oracle=f"""
    WITH {_emb_lsh_cand_sql()}
    SELECT c.id_a, c.id_b,
           {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} AS cos_sim
    FROM emb_cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} >= {_COS_T}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) via SRP-LSH buckets — the
    scale path: candidate generation is a (table, bucket) join, linear in
    corpus size, NO O(n²) self-join.  Deterministic md5-parity hyperplanes
    let the oracle reproduce the bucketing — including which pairs LSH
    surfaces — exactly in SQL (same pattern as dedup_minhash).  Recall vs
    the exact quadratic baseline is asserted in tests/test_llm.py.

    Geometry is the operator's ``"auto"`` occupancy rule (planes grow with
    corpus cardinality so the bucket self-join stays linear); at every
    committed fixture sf the corpus is small enough that auto resolves to
    the base (_SRP_PLANES, _SRP_TABLES) the static oracle embeds — see
    the _SRP_PLANES comment — while the 10×/100× scale harness corpora
    get the shrinking-occupancy geometry the fixed registration lacked
    (3.89× at 10× pinned vs 0.8× auto, SCALE_BENCH_r09; candidates
    returned to ~linear by the round-12 occupancy rule)."""
    e = load_table(spark, sf_dir, "embeddings")
    from map_reduce_folds_spark.sources import table_rowcount

    return S.embedding_near_dup_pairs_lsh(
        e, "vec_id", "embedding", _DIM, _COS_T,
        n_planes="auto", n_tables="auto",
        corpus_count=table_rowcount(sf_dir, "embeddings"),
    )


_CP_SQL = S.cp_bucket_rows_sql("embeddings", "vec_id", "embedding",
                               _DIM, 1, 2, 8)


@query(
    "dedup_embedding_cp",
    oracle=f"""
    WITH cp_rows AS ({_CP_SQL}),
    cp_cand AS (
        SELECT DISTINCT a.__id AS id_a, b.__id AS id_b
        FROM cp_rows a JOIN cp_rows b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.__id < b.__id
    )
    SELECT c.id_a, c.id_b,
           {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} AS cos_sim
    FROM cp_cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} >= {_COS_T}
    """,
)
def dedup_embedding_cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via CROSS-POLYTOPE buckets (round 13 —
    operators/similarity srp_bucket_rows(cp_hashes=1) + 2 SRP fine
    bits, 8 tables): each table's bucket is argmax-with-sign over a
    deterministic ±1 md5-parity projection of the 2^20-QUANTIZED vector
    — exact integer arithmetic end-to-end, so the DuckDB oracle
    regenerates the projection matrix from the same md5 parity and
    reproduces every bucket (and therefore every surfaced pair) with NO
    accumulation-order discipline at all.  This is the oracle-able
    rotation the r12 verdict asked for: per bit of bucket space CP costs
    c ≈ 0.16 recall-compensation vs SRP's 0.22 (calibrated,
    tools/calibrate_cp.py), which cuts table counts 2-4× at the 20M+
    rehearsal scales and moves the SRP occupancy floor (~5M vectors,
    the repo's one super-linear regime) past 10^9 rows.  Explicit small
    geometry here so the static oracle matches at every fixture sf;
    auto geometry (auto_cp_params) is exercised by the scale series."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs_lsh(
        e, "vec_id", "embedding", _DIM, _COS_T,
        scheme="cp", cp_hashes=1, n_planes=2, n_tables=8,
        verify="broadcast")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "sim_topk_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {S.cosine_sql('q.embedding', 'c.embedding', _DIM)} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 5
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {_TOPK}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors — the ANN ground
    truth baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5")
    return S.brute_force_topk(q, e, "vec_id", "embedding", _DIM, _TOPK)


def _srp_topk_oracle() -> str:
    def branches(where: str) -> str:
        return "\n        UNION ALL\n".join(
            f"        SELECT vec_id, {t} AS tbl, "
            f"{S.srp_signature_sql('embedding', _DIM, 6, t)} AS bucket "
            f"FROM embeddings{where}"
            for t in range(8)
        )

    return f"""
    WITH qb AS (
{branches(' WHERE vec_id < 5')}
    ),
    cb AS (
{branches('')}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM cb c JOIN qb q
          ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT cand.query_id, cand.neighbor_id,
               {S.cosine_sql('qe.embedding', 'ce.embedding', _DIM)} AS cos_sim
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.query_id
        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {_TOPK}
    """


@query("sim_topk_lsh", oracle=_srp_topk_oracle())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-random-projection LSH (6 planes × 8
    tables).  Recall is probabilistic by design (asserted vs brute force in
    tests/test_llm.py), but the PIPELINE is deterministic — md5-parity
    hyperplanes — so the oracle reproduces the candidate generation and
    therefore the exact returned top-k (upgraded from rows-only)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5")
    return S.srp_lsh_topk(q, e, "vec_id", "embedding", _DIM, _TOPK,
                          n_planes=6, n_tables=8)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS digest60
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset plumbing: text bytes stood in as media payloads →
    mapInPandas feature extraction (deterministic fake codec).  The oracle
    covers the deterministic outputs (byte length, md5 digest); the fake
    feature vector is exercised by tests/test_multimodal.py."""
    from map_reduce_folds_spark.operators import multimodal as M

    d = load_table(spark, sf_dir, "documents")
    assets = M.to_assets(d, "doc_id", "text", "image")
    feats = M.extract_features(assets, fake=True)
    return feats.select("asset_id", "n_bytes", "digest60")


@query(
    "multimodal_frames",
    oracle="""
    -- every sampled frame is a full 64-byte window (stride windows never
    -- overrun: i*64+64 <= floor(L/64)*64 <= L), so the per-asset frame
    -- geometry is closed-form
    SELECT doc_id AS asset_id,
           least(CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 16) AS n_frames,
           least(CAST(floor(octet_length(encode(text)) / 64) AS BIGINT), 16) * 64 AS total_bytes
    FROM documents
    WHERE octet_length(encode(text)) >= 64
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling layout (1 asset → N frame rows), aggregated to
    per-asset frame counts/bytes so the oracle is engine-agnostic."""
    from map_reduce_folds_spark.operators import multimodal as M

    d = load_table(spark, sf_dir, "documents")
    assets = M.to_assets(d, "doc_id", "text", "video")
    frames = M.frame_sample(assets, every_n_bytes=64, max_frames=16)
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame_bytes").cast("bigint")).alias("total_bytes"),
    )


@query(
    "sim_topk_ivf",
    oracle=S.ivf_srp_topk_sql("WHERE vec_id < 5", dim=_DIM, k=_TOPK,
                              n_bits=3, n_probe=4),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF with an SRP coarse quantizer (8 disjoint
    cells = 3 hyperplane sign bits, Hamming-1 multi-probe of 4).  The
    quantizer is data-independent (md5-parity hyperplanes), so the full
    pipeline — cell assignment, probe set, exact cosine verify, tie-break —
    has an exact DuckDB mirror (previously rows-only under the driver-
    trained kmeans quantizer, whose centroids are data-dependent and can't
    live in one static oracle string).  The trained-kmeans variant remains
    as operators/similarity.ivf_topk with recall unit tests
    (tests/test_llm.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5")
    return S.ivf_srp_topk(q, e, "vec_id", "embedding", _DIM, _TOPK,
                          n_bits=3, n_probe=4)


# ---------------------------------------------------------------------------
# TF-IDF and pipeline composition
# ---------------------------------------------------------------------------

@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.tk AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
             LATERAL (SELECT unnest(toks) AS tk) t
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 9) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 9) DESC,
                 term
    ) <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document.  Classic text-pipeline op built
    entirely from the engine's own primitives: explode → two fold
    aggregations (tf per (doc,term), df per term) → broadcast join →
    per-doc top-k window.  tf·ln(N/df) is one deterministic double chain."""
    from map_reduce_folds_spark.operators.relational import topk_per_group

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokenize("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar: tiny, known at plan time
    # ln() is not bitwise-identical across libm implementations (1-ulp
    # differences); round to 9 decimals before ranking AND output so both
    # engines order and emit identical values
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")), 9
        ).alias("tfidf"),
    )
    return topk_per_group(
        scored, ["doc_id"], [F.col("tfidf").desc(), F.col("term")], 3
    )


@query(
    "deterministic_sample",
    oracle=f"""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE {_h60('text')} % 100 < 20
    GROUP BY 1
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 20% sample — reproducible across engines, partitionings
    and runs (unlike rng-based df.sample), the right sampling primitive for
    a data pipeline.  Filtered per-lang counts as the check."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(T.hash60(F.col("text")) % 100 < 20).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.2, "src3": 0.0}


@query(
    "train_val_test_split",
    oracle=f"""
    SELECT {SM.hash_split_sql('doc_id')} AS split, lang,
           COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY 1, 2
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (98/1/1) —
    partition- and run-independent, stable as the corpus grows (a doc keeps
    its split), exhaustive+disjoint by construction.  Per-(split, lang)
    counts as the check.  GAP op: the training-set splitting primitive
    (reference has no sampling surface, Readme.md:8)."""
    d = load_table(spark, sf_dir, "documents")
    return SM.hash_split(d, "doc_id").groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


@query(
    "mix_sources_weighted",
    oracle=f"""
    SELECT source, COUNT(*) AS n
    FROM documents
    WHERE {SM.mix_sources_sql('source', _MIX_RATES, 'doc_id')}
    GROUP BY 1
    """,
)
def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing ("all of src0, half of src1, 20% of src2,
    none of src3, drop the rest"): per-row hash decision, no shuffle,
    deterministic across engines/runs/partitionings.  Per-source surviving
    counts as the check."""
    d = load_table(spark, sf_dir, "documents")
    return SM.mix_sources(d, "source", _MIX_RATES, "doc_id").groupBy(
        "source"
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "temperature_mix_sources",
    oracle=f"""
    WITH kept AS ({SM.temperature_mix_sql('documents', 'source', 'doc_id',
                                          weight_expr='n_chars')})
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM kept GROUP BY 1
    """,
)
def temperature_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted corpus mixing at τ = 0.5
    (operators/sampling.temperature_mix — the mT5/UniMax multilingual
    sampling rule): rates are DERIVED from observed per-source char
    mass, ``r_s = sqrt(w_min/w_s)``, so kept mass follows ``w^0.5``
    (small sources upweighted, the smallest kept whole, maximal data
    retained subject to r ≤ 1).  Fully distributed — one mass
    aggregate, a 1-row min broadcast, per-row hash keep.  Bitwise
    oracle-exact because IEEE division and sqrt are correctly rounded
    in both engines, so the integer bucket thresholds agree exactly.
    Per-source kept (rows, chars) as the check."""
    d = load_table(spark, sf_dir, "documents")
    kept = SM.temperature_mix(d, "source", "doc_id", tau=0.5,
                              weight_col="n_chars")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"))


@query(
    "unimax_epoch_mix",
    oracle=f"""
    WITH kept AS ({SM.unimax_mix_sql('documents', 'source', 'doc_id',
                                     budget_epochs=1.5, max_epochs=3.0,
                                     weight_expr='n_chars')})
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch
    FROM kept GROUP BY 1
    """,
)
def unimax_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped corpus mixing (operators/sampling.unimax_mix,
    Chung et al. 2023): a 1.5-epoch total budget spread as uniformly as
    char mass allows across sources, capped at 3 epochs per source —
    small sources replicate (the UniMax upsampling point, realized as
    deterministic row copies numbered in ``epoch``), large ones thin via
    the hash keep.  The waterfilling level is closed-form over the
    K-source mass relation (window functions, no collect).  Bitwise
    oracle-exact under the integral-cap contract: caps/masses are
    integer-valued doubles (order-free exact sums) and the two divisions
    are single correctly-rounded IEEE ops.  Per-source kept (rows, docs,
    chars, max epoch) as the check."""
    d = load_table(spark, sf_dir, "documents")
    kept = SM.unimax_mix(d, "source", "doc_id", budget_epochs=1.5,
                         max_epochs=3.0, weight_col="n_chars")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
        F.max("epoch").alias("max_epoch"))


@query(
    "deterministic_shuffle_positions",
    oracle=f"""
    SELECT doc_id, {SM.deterministic_shuffle_sql('doc_id')} AS pos
    FROM documents
    """,
)
def deterministic_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus shuffle: stable hash-order position per doc —
    the RNG-free "shuffle the training data" step (re-salt per epoch).
    Exact oracle because the order is total (hash, then id tiebreak)."""
    d = load_table(spark, sf_dir, "documents")
    return SM.deterministic_shuffle(d, "doc_id").select("doc_id", "pos")


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_tokens,
               least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.4
                 + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) * 0.4
                 + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                               t -> length(t) <= 2)) AS DOUBLE)
                          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.2
                   AS quality
        FROM documents
    ),
    kept AS (
        SELECT *, {_h60('text')} AS digest FROM scored
        WHERE quality >= 0.5 AND n_tokens >= 20
    ),
    dedup AS (
        SELECT digest, MIN(doc_id) AS keep_id, MAX(lang) AS lang,
               MAX(n_tokens) AS n_tokens
        FROM kept GROUP BY 1
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM dedup GROUP BY 1
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning pipeline in one plan:
    quality-score filter → length filter → exact dedup (keep lowest id) →
    per-lang corpus stats.  The composition the engine exists for."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    scored = d.select(
        "doc_id", "lang", "text",
        F.size(toks).alias("n_tokens"),
        T.quality_score("text").alias("quality"),
    )
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))
    dedup = kept.groupBy(T.hash60(F.col("text")).alias("digest")).agg(
        F.min("doc_id").alias("keep_id"),
        F.max("lang").alias("lang"),
        F.max("n_tokens").alias("n_tokens"),
    )
    return dedup.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@query(
    "contamination_check",
    oracle=f"""
    WITH {_SH_CTE},
    ev AS (SELECT * FROM sh WHERE doc_id % 50 = 0),
    cu AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 != 0),
    hits AS (
        SELECT doc_id, COUNT(*) AS c FROM ev
        WHERE h IN (SELECT h FROM cu) GROUP BY 1
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ev GROUP BY 1)
    SELECT s.doc_id, s.sz AS n_shingles,
           CAST(COALESCE(hits.c, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(hits.c, 0) AS DOUBLE) / s.sz AS contamination
    FROM sizes s LEFT JOIN hits USING (doc_id)
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: for each eval-set document (doc_id%50==0,
    a deterministic held-out slice), the fraction of its distinct 3-gram
    shingles that appear anywhere in the training slice — the overlap scan
    run before training on any corpus.  Shuffles only shingle hashes; the
    universe side is a distinct-hash semi-join, linear in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", T.distinct_shingle_hashes("text", _N).alias("sh")
    ).filter(F.size("sh") > 0)
    ev = base.filter(F.col("doc_id") % 50 == 0)
    corpus_hashes = (
        base.filter(F.col("doc_id") % 50 != 0)
        .select(F.explode("sh").alias("h")).distinct()
    )
    ev_sh = ev.select("doc_id", F.explode("sh").alias("h"))
    hits = ev_sh.join(corpus_hashes, "h", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("c"))
    sizes = ev.select("doc_id", F.size("sh").cast("bigint").alias("n_shingles"))
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id", "n_shingles",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_hit"),
        (F.coalesce(F.col("c"), F.lit(0)).cast("double")
         / F.col("n_shingles")).alias("contamination"),
    )


@query(
    "repetition_ratio",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    grams AS (
        SELECT doc_id, tk,
               CASE WHEN len(tk) >= 2 THEN
                   list_transform(range(1, len(tk)),
                                  i -> array_to_string(tk[i:i+1], ' '))
               ELSE [] END AS g2
        FROM toks
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS rep1,
           1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS rep2
    FROM grams WHERE len(tk) >= 2
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style dedup-within-doc rules):
    duplicate fraction of unigrams and bigrams per document — pure
    Catalyst array expressions, zero shuffles before the scan's output."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    g2 = T.shingles(toks, 2)
    rep = lambda arr: (  # noqa: E731
        F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / F.size(arr)
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        rep(toks).alias("rep1"),
        rep(g2).alias("rep2"),
    ).filter(F.size(toks) >= 2)


@query(
    "embedding_centroids_by_lang",
    oracle=S.group_centroids_sql(
        "(SELECT d.lang, e.vec_id, e.embedding FROM embeddings e "
        "JOIN documents d ON e.vec_id = d.doc_id) je",
        "lang", "vec_id", "embedding",
    ),
)
def embedding_centroids_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroids (group, dimension, mean) — the
    class-prototype computation (cluster seeds, per-domain anchors).
    Deterministic under any partitioning via the two-level ordered tree
    fold in operators/similarity.group_centroids (a bare SUM(double) is
    addition-order-nondeterministic and could never hash-match)."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = e.join(F.broadcast(d), e.vec_id == d.doc_id).select(
        "lang", "vec_id", "embedding")
    return S.group_centroids(j, "lang", "vec_id", "embedding")


@query(
    "scrub_pii",
    oracle=r"""
    WITH dirty AS (
        SELECT doc_id,
               concat(text, ' reach me: user', doc_id,
                      '@example.com or https://site.test/p/', doc_id,
                      ' tel +1555', lpad(CAST(doc_id AS VARCHAR), 7, '0'))
                   AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS BIGINT) AS n_phone,
           CAST(length(
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                       'https?://[^ ]+', '<URL>', 'g'),
                   '\+[0-9]{7,15}', '<PHONE>', 'g')
           ) AS BIGINT) AS clean_len
    FROM dirty
    """,
)
def scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / URLs / phone numbers → placeholders) with
    per-kind audit counts.  The fixture text is synthetic words, so each
    doc gets a deterministic planted contact line; patterns are
    dialect-portable (plain classes, no lookaround), so the oracle
    replicates the scrub byte-for-byte."""
    d = load_table(spark, sf_dir, "documents")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" reach me: user"), F.col("doc_id"),
            F.lit("@example.com or https://site.test/p/"), F.col("doc_id"),
            F.lit(" tel +1555"),
            F.lpad(F.col("doc_id").cast("string"), 7, "0"),
        ).alias("text"),
    )
    counts = T.pii_counts("text")
    return dirty.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["url"].alias("n_url"),
        counts["phone"].alias("n_phone"),
        F.length(T.scrub_pii("text")).cast("bigint").alias("clean_len"),
    )


def _hll_union_oracle() -> str:
    reg, rank = K.hll_register_sql("text", p=12)
    return f"""
    WITH rr AS (
        SELECT lang, {reg} AS reg, {rank} AS rank FROM documents
    ),
    regs AS (SELECT lang, reg, MAX(rank) AS rank FROM rr GROUP BY 1, 2),
    est AS (SELECT lang, {K.hll_estimate_sql(p=12)} AS nd_est
            FROM regs GROUP BY lang),
    exact AS (SELECT lang, COUNT(DISTINCT text) AS nd_exact
              FROM documents GROUP BY lang)
    SELECT lang, nd_est, nd_exact FROM est JOIN exact USING (lang)
    """


def _ewma_oracle() -> str:
    from map_reduce_folds_spark.operators.windows import ewma_last_sql

    return ewma_last_sql("events", "user_id", "ts", "value",
                         tiebreak_expr="event_id", alpha_halves=1)


@query("ewma_user_value", oracle=_ewma_oracle())
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing of the event value
    (operators/windows.ewma_last, α = 1/2): the final EWMA state a
    monitoring/feature pipeline carries per entity.  One groupBy with a
    per-key sorted-array fold — no global order; the power-of-two decay
    makes every multiply exact, so the ln-free fold is bitwise-portable
    with only order-pinned addition rounding."""
    from map_reduce_folds_spark.operators.windows import ewma_last

    e = load_table(spark, sf_dir, "events")
    return ewma_last(e, "user_id", "ts", "value",
                     tiebreak_col="event_id", alpha_halves=1)


def _holt_oracle() -> str:
    from map_reduce_folds_spark.operators.windows import holt_last_sql

    return holt_last_sql("events", "user_id", "ts", "value",
                         tiebreak_expr="event_id",
                         alpha_halves=2, beta_halves=2, horizon=3)


@query("holt_user_forecast", oracle=_holt_oracle())
def holt_user_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user HOLT double-exponential smoothing (level + trend,
    α = β = 1/4) with a 3-step-ahead forecast
    (operators/windows.holt_last) — the drifting-signal upgrade of the
    EWMA row: EWMA lags a trending series by design; Holt carries a
    smoothed velocity and extrapolates it.  Same shape and exactness
    discipline as ewma_user_value: one groupBy, per-key sorted-array
    fold, power-of-two decays (exact multiplies), the level-update
    expression duplicated textually into the trend update in both
    engines — bitwise-portable."""
    from map_reduce_folds_spark.operators.windows import holt_last

    e = load_table(spark, sf_dir, "events")
    return holt_last(e, "user_id", "ts", "value",
                     tiebreak_col="event_id",
                     alpha_halves=2, beta_halves=2, horizon=3)


_HLL_BUCKET_US = 1_800_000_000      # 30-minute tumbling sub-buckets
_HLL_WIN_K = 2                      # 1 h sliding window = 2 buckets


def _hll_sliding_oracle() -> str:
    return K.hll_sliding_estimate_sql(
        "events", "ts", "CAST(user_id AS VARCHAR)",
        _HLL_BUCKET_US, _HLL_WIN_K, p=12)


@query("sketch_sliding_hll", oracle=_hll_sliding_oracle())
def sketch_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate per 1-hour SLIDING window (30-min stride)
    over events (operators/sketches.hll_sliding_estimate) — the
    sketch-reuse pattern: one HLL sketch per tumbling 30-min bucket
    (each event hashed once), every window a register-wise merge of its
    two bucket sketches — never a rescan, unlike a naive sliding
    COUNT(DISTINCT) that re-reads every event per overlapping window.
    Portable hash60 registers and the 9-decimal estimate discipline make
    the approximation itself oracle-exact."""
    from map_reduce_folds_spark.operators import sketches as K2

    e = load_table(spark, sf_dir, "events")
    return K2.hll_sliding_estimate(
        e, "ts", F.col("user_id").cast("string"),
        _HLL_BUCKET_US, _HLL_WIN_K, p=12)


@query("sketch_union_hll", oracle=_hll_union_oracle())
def sketch_union_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches: each corpus slice builds its own
    per-lang HLL sketch (the per-dataset artifact a 100 TB pipeline would
    persist), then sketches union per lang WITHOUT rescanning the slices —
    next to the exact count.

    Uses the repo's portable HLL (operators/sketches.py): a sketch is a
    (group, register, max_rank) relation, merge is MAX — so unlike the
    binary DataSketches form (F.hll_sketch_agg, demonstrated in
    tests/test_llm.py), the ESTIMATE itself is oracle-exact: md5-derived
    item hashes and an integer-scaled harmonic sum leave no float-order or
    implementation freedom.  Build and merge are both map-side-combinable
    groupBy-MAX — shuffle bounded by #groups × 4096 rows at any scale."""
    d = load_table(spark, sf_dir, "documents")
    slice_sketches = K.hll_sketch(
        d.withColumn("slice", F.col("doc_id") % 4), "text",
        ["lang", "slice"], p=12,
    )
    merged = (slice_sketches.groupBy("lang", "reg")
              .agg(F.max("rank").alias("rank")))
    est = merged.groupBy("lang").agg(K.hll_estimate(p=12).alias("nd_est"))
    exact = d.groupBy("lang").agg(F.countDistinct("text").alias("nd_exact"))
    return est.join(exact, "lang")


@query(
    "ngram_lm_counts",
    oracle="""
    SELECT bigram, n FROM (
        SELECT array_to_string(tk[g.gs:g.gs+1], ' ') AS bigram,
               count(*) AS n
        FROM (SELECT string_split(text, ' ') AS tk FROM documents) t,
             LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS gs) g
        WHERE len(tk) >= 2
        GROUP BY 1
    )
    QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, bigram) <= 30
    """,
)
def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram language-model statistics: top-30 word bigrams by
    raw count (deterministic tie-break) — the vocabulary/count table a
    KenLM-style n-gram LM build starts from.  Explode JVM-built shingles
    → one map-side-combinable count → TakeOrderedAndProject; no Python
    anywhere.  Scale shape: shuffle carries (bigram, partial count) pairs
    only — the classic word-count plan at any corpus size."""
    from map_reduce_folds_spark.operators.relational import topk

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        F.explode(T.shingles(T.tokenize("text"), 2)).alias("bigram"))
    counts = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return topk(counts, [F.col("n").desc(), F.col("bigram")], 30)


_CMS_D, _CMS_W, _CMS_TOP = 4, 1024, 20

#: shared oracle for the two CMS registrations: cell build + min-cell
#: estimate + top-k over corpus tokens.  sketch_cms_union's Spark side
#: builds per-slice sketches and MERGES them; merged cells equal the
#: whole-corpus cells (the monoid), so both queries check against this
#: one SQL — a single constant so they can never silently diverge.
_CMS_TOPK_ORACLE = f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    cells AS ({K.cms_cells_sql('tok', 'toks', _CMS_D, _CMS_W)}),
    keys AS (SELECT DISTINCT tok FROM toks),
    kc AS (
{K.cms_key_cells_sql('tok', 'keys', _CMS_D, _CMS_W)}
    ),
    est AS (
        SELECT kc.key AS tok, MIN(COALESCE(cells.cnt, 0)) AS est
        FROM kc LEFT JOIN cells ON kc.r = cells.r AND kc.c = cells.c
        GROUP BY 1
    )
    SELECT tok, est FROM est
    QUALIFY ROW_NUMBER() OVER (ORDER BY est DESC, tok) <= {_CMS_TOP}
    """


@query(
    "sketch_heavy_hitters",
    oracle=_CMS_TOPK_ORACLE,
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (operators/sketches.cms_cells —
    Cormode & Muthukrishnan 2005): top-20 corpus tokens by CMS-estimated
    frequency.  The sketch is a fixed d×w cell relation no matter the
    vocabulary size — at 100 TB this finds the hot keys WITHOUT a full
    per-token groupBy, which is exactly the pre-detection step that
    decides where skew.salted_aggregate / pre_split tournaments are
    needed.  Deterministic salted-hash60 cells make the ESTIMATES (not
    just the rows) oracle-exact; est ≥ true count is property-tested in
    tests/test_llm.py."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokenize("text")).alias("tok"))
    cells = K.cms_cells(toks, "tok", d=_CMS_D, w=_CMS_W)
    est = K.cms_estimate(cells, toks.distinct(), "tok", d=_CMS_D, w=_CMS_W)
    from map_reduce_folds_spark.operators.relational import topk

    return topk(est, [F.col("est").desc(), F.col("tok")], _CMS_TOP)


@query(
    "sketch_cms_union",
    oracle=_CMS_TOPK_ORACLE,
)
def sketch_cms_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE count-min sketches: each corpus slice builds its own
    cell relation (the per-dataset artifact a 100 TB pipeline persists),
    slices merge by cell-wise sum WITHOUT rescanning, and heavy hitters
    come off the merged sketch.  The ORACLE builds one sketch over the
    whole corpus — so the hash match is itself the proof that
    sketch(⊕ slices) == sketch(whole) on real data (the counter-monoid
    law, also property-tested in tests/test_llm.py).  Same pattern as
    sketch_union_hll for the max-monoid."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.col("doc_id"),
                    F.explode(T.tokenize("text")).alias("tok"))
    slices = [
        K.cms_cells(toks.filter(f"doc_id % 4 = {s}"), "tok",
                    d=_CMS_D, w=_CMS_W)
        for s in range(4)
    ]
    merged = slices[0]
    for s in slices[1:]:
        merged = K.cms_merge(merged, s)
    est = K.cms_estimate(merged, toks.select("tok").distinct(), "tok",
                         d=_CMS_D, w=_CMS_W)
    from map_reduce_folds_spark.operators.relational import topk

    return topk(est, [F.col("est").desc(), F.col("tok")], _CMS_TOP)


@query(
    "sim_topk_blocked",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {S.cosine_sql('q.embedding', 'c.embedding', _DIM)} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 64
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {_TOPK}
    """,
)
def sim_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-10 for a 64-query block via broadcast-model block scoring
    (operators/similarity.blocked_matmul_topk): the form brute-force takes
    when |Q| outgrows a broadcast join — per-batch vectorized scoring emits
    only batch-local top-k, never the |Q|×N score matrix.  Same oracle
    shape as sim_topk_bruteforce; left-fold scoring keeps it hash-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 64")
    return S.blocked_matmul_topk(q, e, "vec_id", "embedding", _DIM, _TOPK)


_CHUNK, _STRIDE = 50, 40  # 10-token overlap


@query(
    "doc_chunks",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    ex AS (
        SELECT doc_id, tk,
               unnest(generate_series(1, len(tk), {_STRIDE})) AS start,
               unnest(range(len(generate_series(1, len(tk), {_STRIDE})))) AS i
        FROM toks
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(least({_CHUNK}, len(tk) - start + 1) AS BIGINT) AS n_chunk_tokens,
           {_h60(f"array_to_string(tk[start:start + {_CHUNK - 1}], ' ')")} AS chunk_hash
    FROM ex
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (size 50, stride 40) — the
    pre-tokenization shaping pass of a training pipeline.  One explode per
    doc over the chunk-start sequence; chunk text re-joined and hashed so
    the output stays narrow.  Pure Catalyst; scales as a scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokenize("text")
    rows = d.select(
        "doc_id", toks.alias("tk"),
        F.posexplode(T.chunk_starts(toks, _CHUNK, _STRIDE)).alias("i", "start"),
    )
    return rows.select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.size("tk") - F.col("start") + 1)
            .cast("bigint").alias("n_chunk_tokens"),
        T.hash60(T.chunk_text(F.col("tk"), F.col("start"), _CHUNK)).alias("chunk_hash"),
    )


_CTX = 512  # pack capacity (tokens)


@query(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               COALESCE(SUM(len(string_split(text, ' '))) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cum_before
        FROM documents
    )
    SELECT CAST(floor(cum_before / {_CTX}) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc
    FROM sized GROUP BY 1
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LM training: documents are concatenated in
    doc_id order and split into fixed context windows; a doc's pack is
    floor(preceding-token-offset / capacity).  The preceding-offset is the
    distributed prefix sum (operators/windows.ordered_prefix_sum — bucketed
    parallel ranks + broadcast offsets, NOT a single-task global window),
    and the pack assignment is the exact concat-then-split rule used by
    streaming tokenizers (docs may straddle windows; the pack holds the
    doc's START offset)."""
    from map_reduce_folds_spark.operators.windows import ordered_prefix_sum

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.size(T.tokenize("text")).alias("n_tokens"))
    packed = ordered_prefix_sum(sized, "doc_id", "n_tokens", "cum_before")
    return packed.groupBy(
        F.floor(F.col("cum_before") / _CTX).cast("bigint").alias("pack_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def _hll_distinct_oracle() -> str:
    reg, rank = K.hll_register_sql("CAST(l_partkey AS VARCHAR)", p=12)
    return f"""
    WITH regs AS (
        SELECT l_returnflag AS k, {reg} AS reg, MAX({rank}) AS rank
        FROM lineitem GROUP BY 1, 2
    ),
    est AS (SELECT k, {K.hll_estimate_sql(p=12)} AS nd_approx
            FROM regs GROUP BY k),
    exact AS (SELECT l_returnflag AS k, COUNT(DISTINCT l_partkey) AS nd_exact
              FROM lineitem GROUP BY 1)
    SELECT k, nd_approx, nd_exact FROM est JOIN exact USING (k)
    """


@query("sketch_distinct_approx", oracle=_hll_distinct_oracle())
def sketch_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL(p=12) distinct estimate next to the exact count per
    returnflag — the estimate itself hash-matches the DuckDB oracle (see
    operators/sketches.py; Spark's own approx_count_distinct is
    implementation-specific and demonstrated in tests/test_llm.py
    instead).  Accuracy (≈1.6% σ at p=12) is asserted in tests."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = K.hll_sketch(li, F.col("l_partkey").cast("string"),
                      ["l_returnflag"], p=12)
    est = (sk.groupBy(F.col("l_returnflag").alias("k"))
           .agg(K.hll_estimate(p=12).alias("nd_approx")))
    exact = li.groupBy(F.col("l_returnflag").alias("k")).agg(
        F.countDistinct("l_partkey").alias("nd_exact"))
    return est.join(exact, "k")


_HLO, _HHI, _HB = 0.0, 64.0, 32  # histogram sketch params (width 2.0, exact
                                 # in binary: no rounding in bucket math)


def _hist_quantiles_oracle() -> str:
    b = K.hist_bucket_sql("l_quantity", _HLO, _HHI, _HB)
    qs = {f"q{int(f * 100)}": K.hist_quantile_sql(f, _HLO, _HHI, _HB)
          for f in (0.25, 0.50, 0.75)}
    sel = ", ".join(f"{e} AS {n}" for n, e in qs.items())
    return f"""
    WITH hist AS (
        SELECT l_returnflag AS k, {b} AS bucket, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
    )
    SELECT k, {sel} FROM hist GROUP BY k
    """


@query("sketch_quantiles_approx", oracle=_hist_quantiles_oracle())
def sketch_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mergeable quantile sketch per group: a fixed equi-width
    histogram relation (bucket, cnt — merge = SUM, size ≤ 32 rows per group
    at any scale), with the quantile estimate read off the cumulative scan.
    Unlike percentile_approx/Greenwald-Khanna (demonstrated in
    tests/test_llm.py), the ESTIMATES hash-match the DuckDB oracle —
    operators/sketches.py.  Value error ≤ one bucket width (2.0); tests
    bound it against exact quantiles."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = (li.select(F.col("l_returnflag").alias("k"),
                      K.hist_bucket("l_quantity", _HLO, _HHI, _HB).alias("bucket"))
            .groupBy("k", "bucket").agg(F.count(F.lit(1)).alias("cnt")))
    return hist.groupBy("k").agg(*[
        K.hist_quantile(f, _HLO, _HHI, _HB).alias(f"q{int(f * 100)}")
        for f in (0.25, 0.50, 0.75)
    ])


@query(
    "data_quality_profile",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN text IS NULL THEN 1 END) AS text__nulls,
           COUNT(DISTINCT text) AS text__distinct,
           COUNT(CASE WHEN lang IS NULL THEN 1 END) AS lang__nulls,
           COUNT(DISTINCT lang) AS lang__distinct,
           COUNT(CASE WHEN n_chars IS NULL THEN 1 END) AS n_chars__nulls,
           COUNT(DISTINCT n_chars) AS n_chars__distinct
    FROM documents
    """,
)
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health profile (null/distinct counts per column) — N checks
    in one aggregation pass, the gate a pipeline runs before training."""
    from map_reduce_folds_spark.operators.quality import profile

    d = load_table(spark, sf_dir, "documents")
    return profile(d, ["text", "lang", "n_chars"])


@query(
    "data_quality_expectations",
    oracle="""
    SELECT COUNT(CASE WHEN NOT coalesce(n_chars > 0, FALSE) THEN 1 END) AS chars_positive,
           COUNT(CASE WHEN NOT coalesce(length(text) = n_chars, FALSE) THEN 1 END) AS chars_consistent,
           COUNT(CASE WHEN NOT coalesce(lang IN ('en','de','fr','es','zh'), FALSE) THEN 1 END) AS lang_in_domain,
           COUNT(CASE WHEN NOT coalesce(doc_id >= 0, FALSE) THEN 1 END) AS id_nonneg
    FROM documents
    """,
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation violation counts (0 everywhere = corpus passes the
    gate).  Also differentially proves length(text) == n_chars metadata
    consistency in both engines."""
    from map_reduce_folds_spark.operators.quality import expect

    d = load_table(spark, sf_dir, "documents")
    return expect(d, {
        "chars_positive": F.col("n_chars") > 0,
        "chars_consistent": F.length("text") == F.col("n_chars"),
        "lang_in_domain": F.col("lang").isin("en", "de", "fr", "es", "zh"),
        "id_nonneg": F.col("doc_id") >= 0,
    })


def _psi_oracle() -> str:
    from map_reduce_folds_spark.operators.quality import drift_psi_sql

    return drift_psi_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "n_chars", 0.0, 600.0, nbuckets=12,
    )


@query("drift_psi_docs", oracle=_psi_oracle())
def drift_psi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate (operators/quality.drift_psi): PSI between
    two corpus slices on the n_chars distribution — the check a recurring
    ingest runs between yesterday's and today's snapshot before training.
    One bucket-count pass per snapshot + a ≤ nbuckets join; the final sum
    rides a sorted-array fold so the score is partitioning-independent,
    and the ln-bearing result rounds to 9 decimals for cross-engine
    parity."""
    from map_reduce_folds_spark.operators.quality import drift_psi

    d = load_table(spark, sf_dir, "documents")
    return drift_psi(d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1"),
                     "n_chars", 0.0, 600.0, nbuckets=12)


def _ks_oracle() -> str:
    from map_reduce_folds_spark.operators.quality import ks_statistic_sql

    return ks_statistic_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1)",
        "n_chars")


@query("ks_drift_docs", oracle=_ks_oracle())
def ks_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic between two
    corpus slices on the n_chars distribution
    (operators/quality.ks_statistic) — the grid-free companion to
    drift_psi_docs: max CDF gap, sensitive to any distributional change
    without a pre-chosen bucket grid.  One count-per-value agg per
    slice, a full outer join, and running CDFs in a single sorted-array
    fold (partitioning-independent); pure rational arithmetic, no
    rounding."""
    from map_reduce_folds_spark.operators.quality import ks_statistic

    d = load_table(spark, sf_dir, "documents")
    return ks_statistic(d.filter("doc_id % 2 = 0"),
                        d.filter("doc_id % 2 = 1"), "n_chars")


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH toks AS (SELECT source, string_split(text, ' ') AS tk
                  FROM documents),
    sh AS (
        SELECT DISTINCT source,
               {_h60(f"array_to_string(tk[g.gs:g.gs+{_N - 1}], ' ')")} AS h
        FROM toks, LATERAL (SELECT unnest(generate_series(
                                1, len(tk) - {_N - 1})) AS gs) g
        WHERE len(tk) >= {_N}
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(c AS BIGINT) AS common,
           CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
           CAST(c AS DOUBLE) / least(sa.sz, sb.sz) AS containment
    FROM common
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content-overlap matrix between corpus sources
    (operators/dedup.source_overlap_matrix): distinct 3-gram inventory
    containment per source pair — mirror sites and shared boilerplate
    surface as high-containment pairs before doc-level dedup finds the
    copies.  Join fan-out per shingle is bounded by |sources|², linear
    in the shingle relation at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return D.source_overlap_matrix(d, "source", "text", n=_N)


@query(
    "token_entropy_docs",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           {T.token_entropy_sql('text')} AS entropy
    FROM documents
    """,
)
def token_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the doc's own token distribution
    (operators/text.token_entropy) — the repetitiveness quality signal
    (near-zero: one token stamped repeatedly; high: diverse
    vocabulary).  Entirely row-local array expressions, zero shuffles;
    sorted-distinct fold order and a 9-decimal round pin the ln-bearing
    float."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(T.tokenize("text")).cast("bigint").alias("n_tokens"),
        T.token_entropy("text").alias("entropy"))


@query(
    "dedup_multimodal_union",
    oracle=f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    text_pairs AS (
        SELECT id_a, id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {_JT}
    ),
    {_emb_lsh_cand_sql().lstrip()},
    emb_pairs AS (
        SELECT c.id_a, c.id_b
        FROM emb_cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} >= {_COS_T}
    )
    SELECT id_a, id_b,
           MAX(src_text) AS by_text, MAX(src_emb) AS by_embedding
    FROM (
        SELECT id_a, id_b, TRUE AS src_text, FALSE AS src_emb FROM text_pairs
        UNION ALL
        SELECT id_a, id_b, FALSE, TRUE FROM emb_pairs
    ) GROUP BY 1, 2
    """,
)
def dedup_multimodal_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup union: a pair is flagged if the TEXT channel
    (3-gram Jaccard ≥ 0.5 on documents) OR the EMBEDDING channel (cosine ≥
    0.4 on the parallel embeddings table) fires; flags record which.  The
    shape of a production dedup pass that fuses lexical and semantic
    signals before choosing survivors."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    text_pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", n=_N, threshold=_JT) \
        .select("id_a", "id_b", F.lit(True).alias("src_text"),
                F.lit(False).alias("src_emb"))
    emb_pairs = S.embedding_near_dup_pairs_lsh(
        e, "vec_id", "embedding", _DIM, _COS_T,
        n_planes=_SRP_PLANES, n_tables=_SRP_TABLES,
    ).select("id_a", "id_b", F.lit(False).alias("src_text"),
             F.lit(True).alias("src_emb"))
    both = text_pairs.unionByName(emb_pairs)
    return both.groupBy("id_a", "id_b").agg(
        F.max("src_text").alias("by_text"),
        F.max("src_emb").alias("by_embedding"),
    )


# ---------------------------------------------------------------------------
# Regex-tokenizer variants (real-corpus opt-in; registered past the driver's
# 50-entry window — the space-split twins inside the window stay
# authoritative).  The pattern is text.DEFAULT_TOKEN_PATTERN, chosen for
# dialect portability: Java regex (Spark), RE2 (DuckDB), Python re.ASCII
# (the Arrow minhash stage) all produce identical matches.
# ---------------------------------------------------------------------------

_RE_TOKS = r"regexp_extract_all(text, '\w+|[^\w\s]')"

_SH_CTE_RE = f"""
toks AS (SELECT doc_id, {_RE_TOKS} AS tk FROM documents),
sh AS (
    SELECT DISTINCT doc_id,
           {_h60(f"array_to_string(tk[g.gs:g.gs+{_N - 1}], ' ')")} AS h
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - {_N - 1})) AS gs) g
    WHERE len(tk) >= {_N}
)"""


@query(
    "text_stats_regex",
    oracle=rf"""
    WITH t AS (SELECT doc_id, length(text) AS n_chars,
                      {_RE_TOKS} AS tk FROM documents)
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(list_distinct(tk)) AS BIGINT) AS n_types,
           CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
    FROM t
    """,
)
def text_stats_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_stats on the regex tokenizer (tokenize_regex): token count,
    char count, distinct-token count, type-token ratio — punctuation now
    tokenizes separately, unlike the space split."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokenize_regex("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_types"),
        (F.size(F.array_distinct(toks)).cast("double")
         / F.size(toks)).alias("ttr"),
    )


@query("dedup_minhash_regex", oracle=_minhash_oracle(_SH_CTE_RE))
def dedup_minhash_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash-LSH near-dup pipeline with the regex tokenizer
    threaded end-to-end (token_pattern= on minhash_near_dup_pairs → the
    Arrow signature stage tokenizes with re.ASCII findall).  The oracle
    reproduces the entire pipeline in SQL on DuckDB's RE2 — a hash-exact
    match proves the three regex dialects agree on the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dup_pairs(
        d, "doc_id", "text", n=_N, k=_K, bands=_BANDS, threshold=_JT,
        token_pattern=T.DEFAULT_TOKEN_PATTERN,
    )


@query(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    {SM.stratified_sample_sql('lang', 3, 'doc_id')}
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 3 documents per language, deterministically chosen by
    portable hash order — reproducible stratified eval-set construction
    (same rows on any engine / re-run; the oracle shares the hash)."""
    d = load_table(spark, sf_dir, "documents")
    return SM.stratified_sample_exact(d, ["lang"], 3, "doc_id") \
        .select("doc_id", "lang")


@query(
    "sim_topk_int8",
    oracle=S.int8_topk_sql("WHERE vec_id < 5", dim=_DIM, k=_TOPK),
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors for 5 queries scored on int8-QUANTIZED codes
    (integer dot × scales) — the compressed-index read path; exactly
    reproducible because the integer sum has no float-order freedom."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5")
    return S.int8_topk(q, e, "vec_id", "embedding", _DIM, _TOPK)


_LINE = 10  # pseudo-line size (tokens) for the line-dedup query


@query(
    "dedup_lines",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    lines AS (
        SELECT doc_id, g.i AS line_no,
               array_to_string(tk[g.s:g.s + {_LINE - 1}], ' ') AS line
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(tk), {_LINE})) AS s,
                   unnest(range(len(generate_series(1, len(tk), {_LINE})))) AS i
        ) g
    ),
    kept AS (
        SELECT doc_id, line_no, line FROM (
            SELECT doc_id, line_no, line,
                   row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, line_no) AS rn
            FROM lines) WHERE rn = 1
    ),
    re AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(line, ' ' ORDER BY line_no) AS new_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(generate_series(1, len(t.tk), {_LINE})) AS BIGINT) AS n_lines,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           {_h60("COALESCE(r.new_text, '')")} AS new_text_hash
    FROM toks t LEFT JOIN re r USING (doc_id)
    """,
)
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup (operators/dedup.dedup_lines_corpus):
    any line occurring more than once anywhere in the corpus keeps only its
    globally-first occurrence (min (doc_id, line_no)), then every document
    is rewritten from its surviving lines in order.  The fixture corpus has
    no literal line breaks, so lines are non-overlapping {_LINE}-token
    pseudo-lines — the operator's fallback unit for line-break-free text.
    Output stays narrow (the rewritten text is reported as its 60-bit
    hash): ``(doc_id, n_lines, n_kept, new_text_hash)``.  One digest
    shuffle + one co-partitioned join + one per-doc regroup; the oracle
    mirrors the keep-first rule with a window over the raw line."""
    d = load_table(spark, sf_dir, "documents")
    out = D.dedup_lines_corpus(d, "doc_id", "text", pseudo_line_tokens=_LINE)
    return out.select(
        "doc_id", "n_lines", "n_kept",
        T.hash60("new_text").alias("new_text_hash"),
    )


@query(
    "weighted_sample_docs",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
    {SM.weighted_sample_sql('n_chars', 20, 'doc_id')}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 documents sampled without replacement with probability
    proportional to length (Efraimidis–Spirakis over the portable id
    hash, operators/sampling.weighted_sample_exact) — the deterministic
    form of length-weighted corpus subsampling.  Same rows on any
    engine/run; the oracle shares the hash and the ES key."""
    d = load_table(spark, sf_dir, "documents")
    return SM.weighted_sample_exact(d, "n_chars", 20, "doc_id") \
        .select("doc_id", "n_chars")


@query(
    "unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, g.pos, g.tok
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             LATERAL (SELECT unnest(tk) AS tok,
                             unnest(range(len(tk))) AS pos) g
    ),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
    t AS (SELECT SUM(cnt) AS tot FROM vocab),
    terms AS (
        SELECT doc_id, pos,
               ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)) AS term
        FROM toks JOIN vocab USING (tok), t
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(list_reduce(
                     list_prepend(0.0,
                         list_sort(list({'p': pos, 't': term}))
                             .apply(s -> s.t)),
                     (acc, x) -> acc + x)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS mean_logprob
    FROM terms GROUP BY doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal (operators/quality.unigram_logprob):
    each document's mean token log-probability under the corpus unigram
    LM — the filter that drops rare-token gibberish without a trained
    model.  Word-count join-back plan; the sorted-fold + 9-decimal-round
    discipline makes the ln-bearing score hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    return Q.unigram_logprob(d, "doc_id", "text")


@query(
    "dedup_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_emb_lsh_cand_sql().lstrip()},
    vpairs AS (
        SELECT c.id_a, c.id_b
        FROM emb_cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} >= {_COS_T}
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM vpairs
              UNION SELECT id_b, id_a FROM vpairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    )
    SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup clusters: SRP-LSH near-dup pairs
    (cosine ≥ 0.4; ``"auto"`` shrinking-occupancy geometry, which resolves
    to the oracle's pinned base planes/tables at every fixture sf — see
    the _SRP_PLANES comment) → distributed connected components →
    ``(vec_id, canonical component)``.  The embedding analog of
    dedup_cc_clusters — transitive closure, not a pairwise rule.  The
    query returns the cluster labels so the closure itself is what the
    oracle hashes; ``graph.dedup_by_components`` turns such labels into
    the kept corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    from map_reduce_folds_spark.sources import table_rowcount

    pairs = S.embedding_near_dup_pairs_lsh(
        e, "vec_id", "embedding", _DIM, _COS_T,
        n_planes="auto", n_tables="auto",
        corpus_count=table_rowcount(sf_dir, "embeddings"),
    )
    from map_reduce_folds_spark.operators.graph import connected_components

    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias("vec_id"), "component")


@query(
    "dedup_span_rewrite",
    oracle=D.remove_duplicate_spans_sql(n=5),
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a corpus REWRITE
    (operators/dedup.remove_duplicate_spans — the removal step of Lee et
    al. 2022 at 5-token gram granularity): every non-first occurrence of
    a corpus-duplicated 5-gram is cut, overlapping cuts merge, and the
    globally-first occurrence (min (doc_id, position)) survives.
    Complements duplicate_ngram_stats (the AUDIT form) and dedup_lines
    (the line-level C4 rewrite) with the span-level rewrite; all-integer
    + string arithmetic, hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(d, "doc_id", "text", n=5)


def _dsir_oracle() -> str:
    from map_reduce_folds_spark.operators.quality import dsir_logweights_sql

    return dsir_logweights_sql("lang = 'en'")


@query("dsir_importance_weights", oracle=_dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR pretraining-data selection scores
    (operators/quality.dsir_logweights — Xie et al., NeurIPS 2023):
    every document's ln(p_target/p_raw) under bag-of-hashed-uni+bi-gram
    models, target = the English slice — the importance weights that
    steer resampling a raw crawl toward a target domain.  Hashed
    buckets are engine-portable (hash60 % 1024), smoothing arithmetic
    and the sorted per-doc fold follow the unigram_logprob 9-decimal
    discipline, so the oracle hashes exactly."""
    d = load_table(spark, sf_dir, "documents")
    return Q.dsir_logweights(d, F.col("lang") == "en")


_COS_T09 = 0.9  # production SemDeDup threshold (true near-dup regime)


@query(
    "dedup_embedding_clusters_t09",
    oracle=f"""
    WITH RECURSIVE
    emb09 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
        FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_concat([CAST(embedding[1] AS DOUBLE) + 0.5],
                           CAST(embedding[2:] AS DOUBLE[]))
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    {_emb_lsh_cand_sql(src="emb09").lstrip()},
    vpairs AS (
        SELECT c.id_a, c.id_b
        FROM emb_cand c
        JOIN emb09 ea ON ea.vec_id = c.id_a
        JOIN emb09 eb ON eb.vec_id = c.id_b
        WHERE {S.cosine_sql('ea.embedding', 'eb.embedding', _DIM)} >= {_COS_T09}
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM vpairs
              UNION SELECT id_b, id_a FROM vpairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    )
    SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
    """,
)
def dedup_embedding_clusters_t09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup clusters at the PRODUCTION threshold (cosine ≥ 0.9 — the
    regime real semantic dedup runs in, where true near-duplicates live
    and pair mass is linear in corpus size).  The fixture embeddings are
    random unit vectors with zero native pairs at 0.9, so the registered
    relation is the fixture UNION a deterministic near-duplicate per
    10th vector (first coordinate +0.5 → cosine ≈ 0.876–0.92, straddling
    the threshold so it does real filtering work) — the same transform
    in both engines, bit-identical doubles.  Complements
    dedup_embedding_clusters (cos ≥ 0.4), whose registered threshold
    sits inside 64-d random-cosine noise and makes the ANSWER grow
    quadratically (r10 scale note); at 0.9 the true-pair mass — and the
    measured plan — is linear.  Same SRP-LSH → connected-components
    pipeline; auto geometry resolves to the oracle's pinned base at
    every fixture sf (guarded by test_srp_oracle_geometry_matches_auto)."""
    e = load_table(spark, sf_dir, "embeddings")
    from map_reduce_folds_spark.sources import table_rowcount

    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    pert = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding")[0].cast("double") + F.lit(0.5)),
            F.slice(F.col("embedding").cast("array<double>"), 2, _DIM - 1),
        ).alias("embedding"),
    )
    n = table_rowcount(sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs_lsh(
        base.unionByName(pert), "vec_id", "embedding", _DIM, _COS_T09,
        n_planes="auto", n_tables="auto",
        corpus_count=n + n // 10,
    )
    from map_reduce_folds_spark.operators.graph import connected_components

    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias("vec_id"), "component")


@query(
    "neardup_triangles",
    oracle=G2.triangle_count_sql(f"""
        SELECT a.doc_id AS s, b.doc_id AS t
        FROM (SELECT doc_id, {D.simhash_sql('text', 60)} AS sg FROM documents) a
        JOIN (SELECT doc_id, {D.simhash_sql('text', 60)} AS sg FROM documents) b
          ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sg, b.sg)) <= 3
    """),
)
def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the SimHash near-dup pair graph — a cliquishness
    measure of duplicate clusters (near-dup graphs on duplicate-heavy
    corpora are near-cliques; a LOW triangle density on a high pair count
    flags chains of borderline matches instead of true dup clusters).
    Computed via the SIGNATURE-FACTORED decomposition
    (operators/dedup.simhash_triangle_count_factored): the doc-level
    block join was measured quadratic in bucket occupancy (110M candidate
    rows, OOM at the default heap, on the 10× synthetic) while the
    distinct-sig graph stays tiny and the clique volumes become per-row
    arithmetic — property-proven equal to triangle_count over the
    materialized doc pair graph.  The oracle brute-forces the doc-level
    pair graph (identical count)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_triangle_count_factored(d, "doc_id", "text", bits=60,
                                             max_hamming=3, blocks="auto")


@query(
    "dedup_capture_recapture",
    oracle=f"""
    WITH mh AS MATERIALIZED ({_minhash_oracle()}),
    shp AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM (SELECT doc_id, {D.simhash_sql('text', 60)} AS sg
              FROM documents) a
        JOIN (SELECT doc_id, {D.simhash_sql('text', 60)} AS sg
              FROM documents) b
          ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sg, b.sg)) <= 3
    ),
    ca AS (SELECT DISTINCT doc_id FROM
           (SELECT id_a AS doc_id FROM mh
            UNION SELECT id_b FROM mh)),
    cb AS (SELECT DISTINCT doc_id FROM
           (SELECT id_a AS doc_id FROM shp
            UNION SELECT id_b FROM shp)),
    n AS (SELECT CAST((SELECT COUNT(*) FROM ca) AS BIGINT) AS n1,
                 CAST((SELECT COUNT(*) FROM cb) AS BIGINT) AS n2,
                 CAST((SELECT COUNT(*) FROM ca JOIN cb USING (doc_id))
                      AS BIGINT) AS m)
    SELECT n1, n2, m,
           CAST(n1 + n2 - m AS BIGINT) AS caught_union,
           CAST(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                / CAST(m + 1 AS DOUBLE) - 1.0 AS DOUBLE) AS n_hat,
           CAST(CAST(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1)
                     * (n1 - m) * (n2 - m) AS DOUBLE)
                / CAST(CAST(m + 1 AS DECIMAL(38,0)) * (m + 1) * (m + 2)
                       AS DOUBLE) AS DOUBLE) AS var_hat
    FROM n
    """,
)
def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE audit of near-dup coverage (Chapman 1951, the
    bias-corrected Lincoln-Petersen estimator; Seber variance): treat
    the MinHash-LSH catch and the SimHash catch as two independent
    "captures" of the same duplicate population — N̂ = (n₁+1)(n₂+1)/
    (m+1) − 1 estimates how many duplicated docs EXIST, so
    N̂ − |union| estimates what BOTH methods missed: the answer to
    "is one more dedup pass worth it" that neither method can give
    alone.  (Independence is the model assumption, as in any mark-
    recapture survey — the two hash families' disagreement is exactly
    what makes the overlap informative; documented, not hidden.)
    Catch sets ride the registered pair generators verbatim; the
    estimator is exact integer arithmetic with DECIMAL-staged variance
    products (the 4-factor numerator passes int64 at ~30k flagged
    docs) and two final divisions."""
    d = load_table(spark, sf_dir, "documents")
    mh = D.minhash_near_dup_pairs(d, "doc_id", "text", n=_N, k=_K,
                                  bands=_BANDS, threshold=_JT)
    shp = D.simhash_near_dup_pairs_factored(d, "doc_id", "text", bits=60,
                                            max_hamming=3, blocks="auto")
    def catch(pairs):
        return (pairs.select(F.explode(F.array("id_a", "id_b"))
                             .alias("doc_id")).distinct())
    ca, cb = catch(mh), catch(shp)
    n1c = ca.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    n2c = cb.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    mc = (ca.join(cb, "doc_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("m")))
    j = n1c.crossJoin(n2c).crossJoin(mc)   # three one-row scalars
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n_hat = (((n1 + 1) * (n2 + 1)).cast("double")
             / (m + 1).cast("double") - F.lit(1.0))
    var = ((dec(n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)).cast("double")
           / (dec(m + 1) * (m + 1) * (m + 2)).cast("double"))
    return j.select(
        "n1", "n2", "m",
        (n1 + n2 - m).cast("bigint").alias("caught_union"),
        n_hat.cast("double").alias("n_hat"),
        var.cast("double").alias("var_hat"))


@query(
    "kcore_neardup_docs",
    oracle=G2.kcore_peel_sql(f"""
        SELECT a.doc_id AS s, b.doc_id AS t
        FROM (SELECT doc_id, {D.simhash_sql('text', 60)} AS sg FROM documents) a
        JOIN (SELECT doc_id, {D.simhash_sql('text', 60)} AS sg FROM documents) b
          ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sg, b.sg)) <= 3
    """, k=2, rounds=6),
)
def kcore_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-CORE of the SimHash near-dup graph (operators/graph.kcore_peel,
    6 synchronized peel sweeps): the per-node refinement of
    neardup_triangles' cliquishness score — docs surviving the 2-core
    sit in genuine duplicate CLUSTERS, docs peeled away hung off
    borderline transitive CHAINS.  Spark runs the SIGNATURE-FACTORED
    weighted peel (dedup.simhash_kcore_factored /
    graph.kcore_peel_weighted — all m docs behind one signature are
    structurally identical, so peeling whole signatures with
    multiplicities runs the exact doc-level rounds without the C(m,2)
    same-sig pair blow-up that stalled the doc-level peel at 100×;
    equality property-tested at k=2/3, converged and short); the
    oracle brute-forces the doc pair graph and unrolls the same 6
    sweeps (fixed-round contract — convergence at fixture is a
    unit-test assertion, not an oracle assumption)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_kcore_factored(d, "doc_id", "text", bits=60,
                                    max_hamming=3, blocks="auto",
                                    k=2, rounds=6)


@query(
    "negative_samples_docs",
    oracle=SM.negative_samples_sql("doc_id", "documents", 2),
)
def negative_samples_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic uniform negatives per document
    (operators/sampling.negative_samples) — the contrastive-training
    negative-sampling step without RNG state: positions from the
    deterministic corpus shuffle, per-row hash offsets that can never
    wrap to the row itself, one position-keyed join back.  Same
    (id, neg_idx, neg_id) triples on any engine — the oracle shares the
    shuffle order and the offsets."""
    d = load_table(spark, sf_dir, "documents")
    return SM.negative_samples(d, "doc_id", 2)


@query(
    "decontaminate_corpus",
    oracle=f"""
    WITH {_SH_CTE},
    evu AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 50 != 0),
    hits AS (
        SELECT doc_id, COUNT(*) AS c FROM tr
        WHERE h IN (SELECT h FROM evu) GROUP BY 1
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tr GROUP BY 1),
    scored AS (
        SELECT s.doc_id,
               CAST(COALESCE(hits.c, 0) AS DOUBLE) / s.sz AS overlap
        FROM sizes s LEFT JOIN hits USING (doc_id)
    )
    SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id % 50 != 0
      AND d.doc_id NOT IN (SELECT doc_id FROM scored WHERE overlap > 0.5)
    """,
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval decontamination as a REMOVE step (operators/text.decontaminate):
    training docs (doc_id%50!=0) sharing more than half their 3-gram
    shingles with the held-out eval slice are dropped before training.
    The eval shingle universe broadcasts (it is the small side), so the
    training pass stays scan-shaped.  Complements contamination_check,
    which only audits the opposite direction."""
    d = load_table(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 50 != 0)
    ev = d.where(F.col("doc_id") % 50 == 0)
    out = T.decontaminate(train, ev, "doc_id", "text", _N, max_overlap=0.5)
    return out.select("doc_id", "lang", F.col("n_chars").cast("bigint"))


_KMV_K = 256


@query(
    "sketch_kmv_sources",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (SELECT DISTINCT source, {_h60('tok')} AS h FROM toks),
    sk AS (
        SELECT source, h FROM h
        QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) <= {_KMV_K}
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS sketch_rows,
           {K.kmv_distinct_estimate_sql(_KMV_K)} AS est_distinct
    FROM sk GROUP BY source
    """,
)
def sketch_kmv_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-vocabulary estimates from KMV/theta sketches
    (operators/sketches.kmv_sketch) — the k-smallest-hash sketch whose
    estimates are EXACT arithmetic over a deterministic artifact, and
    which (unlike HLL) also supports intersection estimation between
    slices (kmv_pairwise_jaccard, see sketch_kmv_jaccard_sources).  Sketch ≤ k
    rows per source at any corpus size; merge = union + re-min."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokenize("text")).alias("tok"))
    sk = K.kmv_sketch(toks, "tok", group_cols=["source"], k=_KMV_K)
    return sk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("sketch_rows"),
        K.kmv_distinct_estimate(_KMV_K).alias("est_distinct"),
    )


@query(
    "pipeline_curation_v2",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    lines AS (
        SELECT doc_id, g.i AS line_no,
               array_to_string(tk[g.s:g.s + {_LINE - 1}], ' ') AS line
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(tk), {_LINE})) AS s,
                   unnest(range(len(generate_series(1, len(tk), {_LINE})))) AS i
        ) g
    ),
    kept AS (
        SELECT doc_id, line_no, line FROM (
            SELECT doc_id, line_no, line,
                   row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, line_no) AS rn
            FROM lines) WHERE rn = 1
    ),
    rewritten AS (
        SELECT t.doc_id, CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
        FROM toks t LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY 1) r
        USING (doc_id)
    ),
    sh2 AS (
        SELECT DISTINCT doc_id,
               {_h60(f"array_to_string(tk[g.gs:g.gs+{_N - 1}], ' ')")} AS h
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - {_N - 1})) AS gs) g
        WHERE len(tk) >= {_N}
    ),
    evu AS (SELECT DISTINCT h FROM sh2 WHERE doc_id % 50 = 0),
    trh AS (SELECT * FROM sh2 WHERE doc_id % 50 != 0),
    hits AS (SELECT doc_id, COUNT(*) AS c FROM trh
             WHERE h IN (SELECT h FROM evu) GROUP BY 1),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM trh GROUP BY 1),
    dirty AS (
        SELECT s.doc_id FROM sizes s LEFT JOIN hits USING (doc_id)
        WHERE CAST(COALESCE(hits.c, 0) AS DOUBLE) / s.sz > 0.5
    ),
    surv AS (
        SELECT doc_id, n_kept FROM rewritten
        WHERE doc_id % 50 != 0
          AND n_kept >= 3
          AND doc_id NOT IN (SELECT doc_id FROM dirty)
    )
    SELECT doc_id, n_kept FROM surv
    {SM.weighted_sample_sql('n_kept', 10, 'doc_id', salt='cur2')}
    """,
)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 operator surface composed into ONE curation pipeline:
    C4-style line-level dedup (corpus keep-first, document rewrite) →
    eval decontamination (drop training docs overlapping the held-out
    slice) → a minimum-surviving-content gate (≥ 3 kept pseudo-lines) →
    deterministic weighted sampling of 10 docs by surviving length.
    Every stage is an existing operator; the whole chain is one Catalyst
    plan and the oracle chains the stages' SQL mirrors — composition is
    the engine's thesis, verified by hash."""
    d = load_table(spark, sf_dir, "documents")
    rewritten = D.dedup_lines_corpus(d, "doc_id", "text",
                                     pseudo_line_tokens=_LINE)
    train = rewritten.where(F.col("doc_id") % 50 != 0)
    ev = d.where(F.col("doc_id") % 50 == 0)
    # decontaminate on the ORIGINAL text (overlap is a property of the
    # source doc); join the scores onto the rewritten rows by id
    clean_ids = T.decontaminate(
        d.where(F.col("doc_id") % 50 != 0), ev, "doc_id", "text", _N,
        max_overlap=0.5,
    ).select("doc_id")
    gated = (
        train.join(clean_ids, "doc_id", "left_semi")
        .where(F.col("n_kept") >= 3)
    )
    return SM.weighted_sample_exact(gated, "n_kept", 10, "doc_id",
                                    salt="cur2").select("doc_id", "n_kept")


@query(
    "sketch_kmv_jaccard_sources",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hh AS (SELECT DISTINCT source, {_h60('tok')} AS h FROM toks),
    sk AS (
        SELECT source, h FROM hh
        QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) <= {_KMV_K}
    ),
    pr AS (
        SELECT a.source AS ga, b.source AS gb
        FROM (SELECT DISTINCT source FROM sk) a
        JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
    ),
    pooled AS (
        SELECT DISTINCT pr.ga, pr.gb, s.h
        FROM pr JOIN sk s ON s.source = pr.ga OR s.source = pr.gb
    ),
    u AS (
        SELECT ga, gb, h FROM pooled
        QUALIFY ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) <= {_KMV_K}
    ),
    flags AS (
        SELECT u.ga, u.gb, u.h AS h,
               CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                    THEN 1 ELSE 0 END AS in_both
        FROM u
        LEFT JOIN sk sa ON sa.source = u.ga AND sa.h = u.h
        LEFT JOIN sk sb ON sb.source = u.gb AND sb.h = u.h
    )
    SELECT ga AS group_a, gb AS group_b,
           round(CAST(SUM(in_both) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 9) AS jaccard,
           {K.kmv_distinct_estimate_sql(_KMV_K)} AS est_union,
           round((CAST(SUM(in_both) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 * {K.kmv_distinct_estimate_sql(_KMV_K)}, 9)
               AS est_intersection
    FROM flags
    GROUP BY 1, 2
    """,
)
def sketch_kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources from KMV
    sketches (operators/sketches.kmv_pairwise_jaccard) — the RELATIONAL
    form of the theta intersection estimator: every source pair's union
    sketch, Jaccard, and scaled intersection estimate in ONE plan with no
    driver arithmetic.  Exact arithmetic over deterministic sketches ⇒
    the ESTIMATES hash-match the SQL mirror."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(T.tokenize("text")).alias("tok"))
    sk = K.kmv_sketch(toks, "tok", group_cols=["source"], k=_KMV_K)
    return K.kmv_pairwise_jaccard(sk, "source", k=_KMV_K)


@query(
    "weighted_sample_per_lang",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
    {SM.weighted_sample_sql('n_chars', 4, 'doc_id', group_expr='lang')}
    """,
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 4 docs per language, probability ∝ length within each
    stratum — stratified PPS sampling (the grouped Efraimidis–Spirakis
    form riding topk_per_group; hot strata take the pre_split
    tournament).  Deterministic: same rows on any engine or run."""
    d = load_table(spark, sf_dir, "documents")
    return SM.weighted_sample_exact(
        d, "n_chars", 4, "doc_id", group_cols=["lang"],
    ).select("doc_id", "lang", F.col("n_chars").cast("bigint"))


# ---------------------------------------------------------------------------
# Round 8: training-data packing, relative quality gating, and graph
# neighborhood families.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048

_QUALITY_SQL = """
    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.4
      + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) * 0.4
      + (1.0 - CAST(len(list_filter(string_split(text, ' '),
                                    t -> length(t) <= 2)) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.2
"""


@query(
    "pack_training_shards",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tokens,
               {SM.deterministic_shuffle_sql('doc_id', 'pack')} AS pos
        FROM d
    ),
    c AS (
        SELECT n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) // {_PACK_BUDGET}
                   AS BIGINT) AS shard_id
        FROM s
    )
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1
    """,
)
def pack_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the deterministically shuffled corpus into ~2048-token
    training shards (operators/sampling.pack_by_token_budget):
    start-offset packing over the distributed prefix sum — no RNG state,
    no single-task global window (windows.ordered_prefix_sum's bucketed
    decomposition), same shard assignment on every engine and cluster
    size.  Returned as the per-shard manifest (n_docs, total_tokens) a
    writer would consume."""
    d = load_table(spark, sf_dir, "documents")
    dd = d.select(
        "doc_id", F.size(T.tokenize("text")).cast("bigint").alias("n_tokens"))
    p = SM.pack_by_token_budget(dd, "doc_id", "n_tokens",
                                budget=_PACK_BUDGET, salt="pack")
    return p.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"))



_MED_CTES = """ranked AS (
        SELECT doc_id, lang, q,
               COUNT(*) OVER (PARTITION BY lang) AS n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn
        FROM sc
    ),
    med AS (SELECT lang, q AS med_q FROM ranked
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT))"""


def _lang_median(sc: DataFrame) -> DataFrame:
    """Per-language exact LOWER median of the quality score — rank
    selection over the (q, doc_id) total order (the median_exact
    discipline).  Shared by quality_filter_relative and
    pipeline_curation_v3 so the median semantics cannot diverge between
    the standalone gate and the composed pipeline; ``_MED_CTES`` is the
    matching oracle fragment."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("q", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = sc.select(
        "lang", "q",
        F.count(F.lit(1)).over(wn).alias("n"),
        F.row_number().over(w).alias("rn"))
    return ranked.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("bigint")
    ).select("lang", F.col("q").alias("med_q"))


@query(
    "quality_filter_relative",
    oracle=f"""
    WITH sc AS (
        SELECT doc_id, lang, {_QUALITY_SQL} AS q FROM documents
    ),
    {_MED_CTES}
    SELECT sc.lang AS lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN sc.q >= med.med_q THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
           MIN(med.med_q) AS med_q
    FROM sc JOIN med ON sc.lang = med.lang
    GROUP BY 1
    """,
)
def quality_filter_relative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style RELATIVE quality gate: keep documents at or above
    their language's median quality score — per-group percentile
    filtering, not a global constant (a threshold tuned on English
    silently guts low-resource languages).  The median is the exact
    LOWER median via rank selection (the median_exact discipline —
    deterministic under the (q, doc_id) total order, no interpolation
    arithmetic to drift across engines); scores are the composite
    text.quality_score expression.  Output: per-language doc count,
    kept count, and the median threshold applied."""
    d = load_table(spark, sf_dir, "documents")
    sc = d.select("doc_id", "lang", T.quality_score("text").alias("q"))
    med = _lang_median(sc)
    return (
        sc.join(med, "lang")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum((F.col("q") >= F.col("med_q")).cast("bigint"))
             .alias("n_kept"),
             F.min("med_q").alias("med_q"))
    )


@query(
    "khop_doc_neighborhood",
    oracle=f"""
    WITH RECURSIVE sg AS (
        SELECT doc_id, {D.simhash_sql('text', 60)} AS sg FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sg, b.sg)) <= 3
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    seed AS (SELECT MIN(u) AS s FROM edges),
    reach(node, d) AS (
        -- NULL-safe seed: on a pair-free corpus MIN(u) is one NULL row,
        -- which would seed the recursion and emit (NULL, 0) while the
        -- Spark side returns an empty frame — filter it out here so both
        -- sides agree on the empty-graph case
        SELECT s, 0 FROM seed WHERE s IS NOT NULL
        UNION
        SELECT e.v, r.d + 1 FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.d < 4
    )
    SELECT node AS doc_id, CAST(MIN(d) AS INT) AS hops
    FROM reach GROUP BY 1
    """,
)
def khop_doc_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-hop BFS neighborhood of the lowest-id node in the SimHash
    near-dup pair graph (operators/graph.bfs_hops) — the "contamination
    blast radius" query: every document within k dedup-graph hops of a
    flagged one, with its hop distance.  Level-synchronous frontier BFS
    run at SIGNATURE level (operators/dedup.simhash_khop_hops →
    graph.bfs_hops_factored): the doc graph is the distinct-signature
    graph blown up by cliques/bicliques, so hop distances factor exactly
    and the frontier is bounded by |signatures| instead of |docs| — the
    fix for the doc-level frontier's superlinear growth over planted
    duplicate clusters (2.16× at 10×, r8 scale bench).  The banded
    SimHash pair generation is pigeonhole-exact for hamming ≤ 3 at 4
    blocks, so the oracle's brute-force pair graph is identical;
    equality of the factored BFS with the doc-level one is
    property-tested in tests/test_llm.py."""
    d = load_table(spark, sf_dir, "documents")
    hops = D.simhash_khop_hops(
        d, "doc_id", "text", bits=60, max_hamming=3, blocks="auto", max_hops=4)
    return hops.select(F.col("node").alias("doc_id"),
                       F.col("hops").cast("int").alias("hops"))


_BPE_MERGES = 8


@query(
    "bpe_vocab_merges",
    oracle=None,  # set below: generated unrolled-CTE mirror
)
def bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus
    (operators/bpe.bpe_learn_merges — Sennrich et al. 2016): the ordered
    merge list a subword tokenizer replays at encode time.  The corpus
    is scanned ONCE (word counts); each round is a map-side-combinable
    pair count over the distinct-word vocabulary + a one-row argmax
    collect + a scan-shaped greedy merge fold, per-round checkpoint
    cuts — the pagerank-style iterative shape with a bounded driver
    result.  The oracle is the same induction unrolled into chained
    CTEs (operators/bpe.bpe_merges_sql), argmax tie-break and merge
    fold mirrored term-for-term."""
    from map_reduce_folds_spark.operators import bpe as BP

    d = load_table(spark, sf_dir, "documents")
    merges = BP.bpe_learn_merges(d, "text", _BPE_MERGES)
    rows = [(i + 1, l, r, n) for i, (l, r, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, n bigint")


def _set_bpe_oracle():
    from map_reduce_folds_spark.operators import bpe as BP
    from map_reduce_folds_spark.queries.registry import ORACLES

    ORACLES["bpe_vocab_merges"] = BP.bpe_merges_sql(_BPE_MERGES)


_set_bpe_oracle()


@query(
    "bpe_encode_corpus",
    oracle=None,  # set below: train-then-encode CTE chain
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY step (operators/bpe.bpe_encode_token_counts):
    train the first 8 BPE merges on the corpus, then encode every
    document with them — per-doc ``(n_words, n_tokens)`` after the
    merge replay.  The WORD-LEVEL CACHE shape real tokenizers use at
    scale: the merge replay runs over the distinct-word vocabulary
    (k chained JVM merge folds), token counts come from one join back
    to per-(doc, word) counts — never a per-occurrence encode.  The
    oracle unrolls train-then-encode into one CTE chain
    (operators/bpe.bpe_encode_sql), the same fold term-for-term; the
    Arrow engine path is property-tested identical in tests."""
    from map_reduce_folds_spark.operators import bpe as BP

    d = load_table(spark, sf_dir, "documents")
    return BP.bpe_encode_token_counts(d, "doc_id", "text", _BPE_MERGES)


def _set_bpe_encode_oracle():
    from map_reduce_folds_spark.operators import bpe as BP
    from map_reduce_folds_spark.queries.registry import ORACLES

    ORACLES["bpe_encode_corpus"] = BP.bpe_encode_sql(_BPE_MERGES)


_set_bpe_encode_oracle()


@query(
    "bigram_pmi",
    oracle="""
    WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS c_ab
        FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS pr
              FROM tk WHERE len(t) >= 2)
        GROUP BY 1, 2
    ),
    uni AS (SELECT u AS w, COUNT(*) AS c
            FROM (SELECT unnest(t) AS u FROM tk) GROUP BY 1),
    tot AS (SELECT SUM(len(t)) AS T, SUM(len(t) - 1) AS B FROM tk)
    SELECT bg.a AS a, bg.b AS b, bg.c_ab AS c_ab,
           round(ln(((CAST(bg.c_ab AS DOUBLE) * CAST(tot.T AS DOUBLE))
                     * CAST(tot.T AS DOUBLE))
                    / ((CAST(tot.B AS DOUBLE) * CAST(ua.c AS DOUBLE))
                       * CAST(ub.c AS DOUBLE))), 9) AS pmi
    FROM bg
    JOIN uni ua ON ua.w = bg.a
    JOIN uni ub ON ub.w = bg.b
    CROSS JOIN tot
    WHERE bg.c_ab >= 5
    """,
)
def bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs (Church &
    Hanks 1990) — the classic word-association / collocation-mining
    signal: PMI = ln(p(a,b) / (p(a)·p(b))) under the bigram and unigram
    corpus distributions, support-thresholded at 5 occurrences.  One
    token scan feeds both count relations (bigrams via the
    slice-and-zip adjacency, no self-join on positions); corpus totals
    ride a one-row broadcast cross join; the ln is over a single
    fixed-parenthesization double ratio of exact integer counts,
    9-decimal rounded — the unigram_logprob hash-exactness
    discipline."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(F.split("text", " ").alias("t"))
    bg = (
        tk.where(F.size("t") >= 2)
        .select(F.explode(F.arrays_zip(
            F.slice(F.col("t"), 1, F.size("t") - 1).alias("a"),
            F.slice(F.col("t"), 2, F.size("t") - 1).alias("b"),
        )).alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = (tk.select(F.explode("t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    tot = tk.agg(F.sum(F.size("t")).alias("tot_t"),
                 F.sum(F.size("t") - 1).alias("tot_b"))
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("cb"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        bg.where(F.col("c_ab") >= 5)
        .join(ua, "a").join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", "c_ab",
            F.round(
                F.log(((d_("c_ab") * d_("tot_t")) * d_("tot_t"))
                      / ((d_("tot_b") * d_("ca")) * d_("cb"))), 9
            ).alias("pmi"),
        )
    )


_SG_W = 3         # skip-gram forward window (word2vec-style context)


@query(
    "skipgram_pmi",
    oracle=f"""
    WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
    pairs AS (
        SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS c_ab
        FROM (
            SELECT unnest(flatten([
                CASE WHEN len(t) > k
                     THEN list_zip(t[1:len(t)-k], t[1+k:len(t)])
                     ELSE [] END
                FOR k IN [{", ".join(str(k) for k in range(1, _SG_W + 1))}]
            ])) AS pr
            FROM tk
        )
        GROUP BY 1, 2
    ),
    uni AS (SELECT u AS w, COUNT(*) AS c
            FROM (SELECT unnest(t) AS u FROM tk) GROUP BY 1),
    tot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS T,
                   CAST(SUM({" + ".join(
                       f"greatest(len(t) - {k}, 0)"
                       for k in range(1, _SG_W + 1))}) AS BIGINT) AS B
            FROM tk)
    SELECT pairs.a AS a, pairs.b AS b,
           CAST(pairs.c_ab AS BIGINT) AS c_ab,
           round(ln(((CAST(pairs.c_ab AS DOUBLE) * CAST(tot.T AS DOUBLE))
                     * CAST(tot.T AS DOUBLE))
                    / ((CAST(tot.B AS DOUBLE) * CAST(ua.c AS DOUBLE))
                       * CAST(ub.c AS DOUBLE))), 9) AS pmi
    FROM pairs
    JOIN uni ua ON ua.w = pairs.a
    JOIN uni ub ON ub.w = pairs.b
    CROSS JOIN tot
    WHERE pairs.c_ab >= 5
    """,
)
def skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed skip-gram PMI: pointwise mutual information of token
    pairs co-occurring within a FORWARD window of 3 positions (the
    word2vec-style context of Mikolov et al. 2013) — word association
    beyond strict adjacency, which bigram_pmi cannot see ("new … york"
    split by an adjective still scores).  The pair stream is built
    row-locally in ONE scan: the per-offset slice-and-zip arrays
    concatenate into a single explode — no position self-join at any
    corpus size.  Same exact-integer-count ratio, single fixed
    parenthesization, and 9-decimal round as bigram_pmi."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(F.split("text", " ").alias("t"))
    empty = F.array().cast("array<struct<a:string,b:string>>")
    zips = [
        F.when(
            F.size("t") > k,
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - k).alias("a"),
                F.slice(F.col("t"), 1 + k, F.size("t") - k).alias("b"),
            ).cast("array<struct<a:string,b:string>>"),
        ).otherwise(empty)
        for k in range(1, _SG_W + 1)
    ]
    pairs = (
        tk.select(F.explode(F.concat(*zips)).alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = (tk.select(F.explode("t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    tot = tk.agg(
        F.sum(F.size("t")).alias("tot_t"),
        F.sum(sum(F.greatest(F.size("t") - F.lit(k), F.lit(0))
                  for k in range(1, _SG_W + 1))).alias("tot_b"))
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("cb"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pairs.where(F.col("c_ab") >= 5)
        .join(ua, "a").join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(((d_("c_ab") * d_("tot_t")) * d_("tot_t"))
                      / ((d_("tot_b") * d_("ca")) * d_("cb"))), 9
            ).alias("pmi"),
        )
    )


@query(
    # registered round 8 as "pipeline_curation_v3"; renamed when the
    # round-13 composition took that name (the duplicate registration
    # shadowed this row — registry.query now refuses duplicates)
    "pipeline_curation_shards",
    oracle=f"""
    WITH sc AS (
        SELECT doc_id, lang, text, {_QUALITY_SQL} AS q FROM documents
    ),
    {_MED_CTES},
    kept AS (
        SELECT sc.doc_id, sc.text FROM sc
        JOIN med ON sc.lang = med.lang WHERE sc.q >= med.med_q
    ),
    dd AS (
        SELECT doc_id, text FROM kept
        QUALIFY ROW_NUMBER() OVER (PARTITION BY {T.hash60_sql('text')}
                                   ORDER BY doc_id) = 1
    ),
    tok AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM dd),
    s AS (SELECT doc_id, n_tokens,
                 {SM.deterministic_shuffle_sql('doc_id', 'pack')} AS pos
          FROM tok),
    c AS (SELECT n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // {_PACK_BUDGET} AS BIGINT) AS shard_id
          FROM s)
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY 1
    """,
)
def pipeline_curation_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 composed curation pipeline, ONE Catalyst plan chaining
    three round-8 operators: per-language relative quality gate (exact
    lower median) → exact dedup keep-first (min doc per text digest) →
    training-shard packing by token budget — returning the shard
    manifest a writer would consume.  The oracle chains the stages' SQL
    mirrors, so the COMPOSITION is verified by hash, not just the
    parts."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    sc = d.select("doc_id", "lang", "text",
                  T.quality_score("text").alias("q"))
    med = _lang_median(sc)
    kept = (sc.join(med, "lang").where(F.col("q") >= F.col("med_q"))
            .select("doc_id", "text"))
    wd = Window.partitionBy(T.hash60("text")).orderBy("doc_id")
    dd = (kept.withColumn("__rn", F.row_number().over(wd))
          .where(F.col("__rn") == 1)
          .select("doc_id",
                  F.size(T.tokenize("text")).cast("bigint")
                  .alias("n_tokens")))
    p = SM.pack_by_token_budget(dd, "doc_id", "n_tokens",
                                budget=_PACK_BUDGET, salt="pack")
    return p.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"))


_QUOTA = 80


@query(
    "source_quota_sample",
    oracle=f"""
    WITH r AS (
        SELECT source, doc_id, n_chars FROM documents
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY {T.hash60_sql("CAST(doc_id AS VARCHAR)", "quota")},
                     doc_id) <= {_QUOTA}
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM r GROUP BY 1
    """,
)
def source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping — the domain-balancing step that stops
    one crawl source from dominating the training mix: keep at most N
    documents per source, selected UNIFORMLY and deterministically
    (lowest salted id-hash wins; re-salt for a fresh draw), via
    relational.topk_per_group — never a global sort, hot sources ride
    the pre-split tournament.  Returns the per-source audit
    (n_kept, chars_kept)."""
    from map_reduce_folds_spark.operators.relational import topk_per_group

    d = load_table(spark, sf_dir, "documents")
    withk = d.select(
        "source", "n_chars",
        T.hash60(F.col("doc_id").cast("string"), salt="quota").alias("__h"),
        "doc_id")
    kept = topk_per_group(withk, ["source"],
                          [F.col("__h"), F.col("doc_id")], _QUOTA)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"))


@query(
    "dedup_savings_by_source",
    oracle=f"""
    WITH RECURSIVE
    sig AS (SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component
             FROM reach GROUP BY node),
    d AS (
        SELECT doc_id, source, n_chars,
               COALESCE(component, doc_id) AS cluster
        FROM documents LEFT JOIN comp USING (doc_id)
    ),
    rep AS (
        SELECT cluster,
               (MIN({{'a': -n_chars, 'b': doc_id}})).b AS rep_id
        FROM d GROUP BY cluster
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id <> rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN doc_id <> rep_id THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_dropped
    FROM d JOIN rep USING (cluster)
    GROUP BY source
    """,
)
def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup savings report (operators/dedup.cluster_savings): the
    SimHash near-dup clusters of dedup_cc_clusters, ONE representative
    elected per cluster (largest doc, ties to smallest id — the classic
    keep-the-longest curation policy, a map-side-combinable min-struct
    arg-min), and the per-source accounting of what the pass removes:
    docs kept/dropped and exact chars_dropped.  Singletons (docs with no
    near-dup edge) are their own cluster — always kept.  The oracle
    walks the same closure with a recursive CTE and mirrors the struct
    arg-min."""
    d = load_table(spark, sf_dir, "documents")
    return D.cluster_savings(d, "doc_id", "text", "n_chars", "source",
                             bits=60, max_hamming=3, blocks="auto")


_PF_T = 0.8  # prefix-filter demo threshold (tight → biggest pruning win)


@query(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {_PF_T}
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING
    (operators/dedup.ngram_jaccard_pairs_prefix, Bayardo et al. 2007):
    index only each shingle set's s − ⌊t·s⌋ + 1 globally-rarest
    shingles — every Jaccard ≥ 0.8 pair still shares an indexed
    shingle, so candidate generation shrinks with the threshold while
    the verify stage keeps scores bitwise-exact (property-proven
    lossless vs the full index).  Boilerplate shingles sort last and
    drop out of every prefix organically.  The oracle brute-forces the
    FULL inverted index — the gate proves the pruning loses nothing."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_prefix(d, "doc_id", "text", n=_N,
                                        threshold=_PF_T)


_BM25_TERMS = ("data", "hash", "scan")   # fixed query, fixed add order
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TOPK = 20

# the scored-relation CTE chain (ends at ``tot(doc_id, score)``) —
# shared verbatim by bm25_topk_docs' oracle and the hybrid RRF oracle
_BM25_CTES = f"""tok AS (
        SELECT doc_id, t.tk AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents) d,
             LATERAL (SELECT unnest(toks) AS tk) t
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
           FROM tok GROUP BY 1),
    stats AS (SELECT CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avglen,
                     CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE term IN {_BM25_TERMS!r} GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM tok WHERE term IN {_BM25_TERMS!r} GROUP BY 1),
    s AS (
        SELECT tf.doc_id, tf.term,
               round(
                 ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
                 * ((tf * ({_BM25_K1!r} + 1.0))
                    / (tf + {_BM25_K1!r}
                       * (1.0 - {_BM25_B!r}
                          + {_BM25_B!r} * (CAST(len AS DOUBLE) / avglen)))),
                 9) AS sc
        FROM tf
        JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    ),
    tot AS (
        SELECT doc_id,
               COALESCE(MAX(CASE WHEN term = '{_BM25_TERMS[0]}'
                                 THEN sc END), 0.0)
               + COALESCE(MAX(CASE WHEN term = '{_BM25_TERMS[1]}'
                                   THEN sc END), 0.0)
               + COALESCE(MAX(CASE WHEN term = '{_BM25_TERMS[2]}'
                                   THEN sc END), 0.0) AS score
        FROM s GROUP BY doc_id
    )"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 scored relation ``(doc_id, score)`` for the fixed
    ``_BM25_TERMS`` query — the Spark twin of ``_BM25_CTES`` (shared by
    :func:`bm25_topk_docs` and :func:`hybrid_search_rrf`)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokenize("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        (F.sum("len").cast("double") / F.count(F.lit(1))).alias("avglen"),
        F.count(F.lit(1)).alias("n_docs"))
    qt = tok.where(F.col("term").isin(*_BM25_TERMS))
    tf = qt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = qt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    sat = ((F.col("tf") * (k1 + 1.0))
           / (F.col("tf") + k1 * (1.0 - b
                                  + b * (F.col("len").cast("double")
                                         / F.col("avglen")))))
    s = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", F.round(idf * sat, 9).alias("sc"))
    )
    term_col = lambda t: F.coalesce(  # noqa: E731
        F.max(F.when(F.col("term") == t, F.col("sc"))), F.lit(0.0))
    return s.groupBy("doc_id").agg(
        (term_col(_BM25_TERMS[0]) + term_col(_BM25_TERMS[1])
         + term_col(_BM25_TERMS[2])).alias("score"))


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, score FROM tot
    ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson–Sparck Jones): top-20 documents for a
    fixed 3-term query — the ranking function every lexical search
    stack runs, built from the engine's own relations: one token scan →
    tf (query terms only — the IN filter prunes BEFORE the aggregation),
    df, doc lengths; idf and the saturation term follow the exact
    fixed-parenthesization chain in both engines with the repo's
    9-decimal ln discipline, and the per-doc score SUMS THE TERMS IN
    FIXED ORDER (one pivot column per query term — never an
    order-nondeterministic float SUM).  Global top-k compiles to
    TakeOrderedAndProject (per-partition heaps, no full sort)."""
    from map_reduce_folds_spark.operators.relational import topk

    tot = _bm25_scored(spark, sf_dir)
    return topk(tot, [F.col("score").desc(), F.col("doc_id")], _BM25_TOPK)


_RRF_K0 = 60       # the SIGIR'09 constant
_RRF_CAND = 50     # candidates taken from each ranker
_RRF_TOPK = 20

# the two candidate rankings as SQL (each BOUNDED top-_RRF_CAND):
# lexical = the shared BM25 CTE chain; dense = exact cosine against the
# fixed query vector vec_id=0 (the sim_topk_bruteforce shape).
_RRF_LEX_SQL = f"""WITH {_BM25_CTES}
    SELECT CAST(0 AS BIGINT) AS query_id, doc_id, score FROM tot
    ORDER BY score DESC, doc_id LIMIT {_RRF_CAND}"""


def _rrf_dense_sql() -> str:
    from map_reduce_folds_spark.operators import similarity as _S

    return f"""
    SELECT query_id, doc_id, score FROM (
        SELECT CAST(0 AS BIGINT) AS query_id, c.vec_id AS doc_id,
               {_S.cosine_sql('q.embedding', 'c.embedding', _DIM)} AS score
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id = 0
    )
    QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
        <= {_RRF_CAND}"""


def _rrf_oracle() -> str:
    from map_reduce_folds_spark.operators.similarity import rrf_fuse_sql

    fused = rrf_fuse_sql([_RRF_LEX_SQL, _rrf_dense_sql()], k0=_RRF_K0)
    return f"""
    WITH fused AS ({fused})
    SELECT doc_id, rrf,
           CAST(COALESCE(rank_0, 0) AS BIGINT) AS rank_lex,
           CAST(COALESCE(rank_1, 0) AS BIGINT) AS rank_dense
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
    """


@query("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SEARCH via reciprocal rank fusion (Cormack et al. SIGIR
    2009 — the combiner behind every lexical⊕dense RAG retrieval
    stack): BM25's top-50 for the fixed 3-term query fused with the
    exact-cosine top-50 for the fixed query vector (vec_id 0, the
    fixture convention: vec_id is the document's embedding id) by
    ``Σ 1/(60+rank)`` (operators/similarity.rrf_fuse).  Only RANKS
    cross the ranker boundary, so no score calibration is needed and
    the fused score is bitwise-reproducible (each contribution is one
    IEEE division; contributions add in fixed lexical→dense order).
    Both candidate lists are bounded TakeOrderedAndProject top-k's and
    the fusion joins two ≤50-row relations — at corpus scale the only
    unbounded work is the two rankers' own scans.  A doc ranked by one
    side only keeps rank sentinel 0 on the other."""
    from map_reduce_folds_spark.operators.relational import topk

    lex = topk(
        _bm25_scored(spark, sf_dir)
        .select(F.lit(0).cast("bigint").alias("query_id"),
                "doc_id", "score"),
        [F.col("score").desc(), F.col("doc_id")], _RRF_CAND)
    e = load_table(spark, sf_dir, "embeddings")
    dense = (
        S.brute_force_topk(e.filter("vec_id = 0"), e, "vec_id",
                           "embedding", _DIM, _RRF_CAND)
        .select("query_id", F.col("neighbor_id").alias("doc_id"),
                F.col("cos_sim").alias("score")))
    fused = S.rrf_fuse([lex, dense], k0=_RRF_K0)
    out = fused.select(
        "doc_id", "rrf",
        F.coalesce(F.col("rank_0"), F.lit(0)).cast("bigint")
        .alias("rank_lex"),
        F.coalesce(F.col("rank_1"), F.lit(0)).cast("bigint")
        .alias("rank_dense"))
    return topk(out, [F.col("rrf").desc(), F.col("doc_id")], _RRF_TOPK)


@query(
    "ht_estimate_chars",
    oracle=f"""
    WITH s AS (
        SELECT source, n_chars FROM documents
        WHERE {SM.bernoulli_sample_sql('doc_id', 0.2)}
    ),
    est AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(n_chars) AS DOUBLE) * 1000000
                   / {SM._rate_threshold('rate', 0.2)} AS est_total
        FROM s GROUP BY 1
    ),
    tru AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS true_total
        FROM documents GROUP BY 1
    )
    SELECT source, n_sampled, est_total, n_docs, true_total
    FROM est JOIN tru USING (source)
    """,
)
def ht_estimate_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson size estimation
    (operators/sampling.ht_total_estimate): per-source total characters
    estimated from the deterministic 20% Bernoulli sample — each
    sampled value inflated by its KNOWN inverse inclusion probability
    (exact rational threshold/10^6, the split family's denominator) —
    joined against the true totals so the row itself exhibits the
    estimator's error.  The estimate path scans ONLY the sample; at
    100 TB that is the entire point.  One bigint product + one terminal
    division (bitwise-portable)."""
    d = load_table(spark, sf_dir, "documents")
    est = SM.ht_total_estimate(d, "doc_id", "n_chars", ["source"], 0.2)
    tru = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("true_total"))
    return est.join(tru, "source")


@query(
    "dedup_savings_jaccard",
    oracle=f"""
    WITH RECURSIVE {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {_PF_T}
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component
             FROM reach GROUP BY node),
    d AS (
        SELECT doc_id, source, n_chars,
               COALESCE(component, doc_id) AS cluster
        FROM documents LEFT JOIN comp USING (doc_id)
    ),
    rep AS (
        SELECT cluster,
               (MIN({{'a': -n_chars, 'b': doc_id}})).b AS rep_id
        FROM d GROUP BY cluster
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id <> rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN doc_id <> rep_id THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_dropped
    FROM d JOIN rep USING (cluster)
    GROUP BY source
    """,
)
def dedup_savings_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The savings report under the JACCARD near-dup policy — two
    round-9 operators composed in ONE plan: prefix-filtered similarity
    join (candidate pruning, proven lossless) feeds the pluggable
    ``cluster_savings`` accounting (CC → keep-the-longest rep →
    per-source kept/dropped).  The oracle walks the FULL inverted index
    into the same closure — the gate simultaneously re-proves the
    prefix filter loses no edge AND the policy-agnostic accounting."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs_prefix(d, "doc_id", "text", n=_N,
                                         threshold=_PF_T)
    return D.cluster_savings(d, "doc_id", "text", "n_chars", "source",
                             pairs=pairs)


@query("mmr_diversified_topk", oracle=S.mmr_topk_sql(0, k=5, n_cand=50))
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval (operators/similarity.mmr_topk): Maximal
    Marginal Relevance top-5 for query vector 0 over a 50-candidate
    pool — each pick maximizes 2·relevance − max-similarity-to-picked,
    the query-time answer to near-dup results crowding out coverage.
    Exact integer dot products over int8 codes end to end; the oracle
    unrolls the same greedy loop into five chained CTE stages
    (pagerank_sql convention) — selection order, scores, and tie-breaks
    are engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.mmr_topk(emb, 0, k=5, n_cand=50)


_AA_N, _AA_K = 500, 5  # kNN-graph node cap (explicit, oracle-mirrored) / k


@query(
    "adamic_adar_knn",
    oracle=f"""
    WITH knn AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {S.cosine_sql('q.embedding', 'c.embedding', _DIM)}
                       AS cos_sim
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {_AA_N} AND c.vec_id < {_AA_N}
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                <= {_AA_K}
    ),
    e AS (
        SELECT DISTINCT u, v FROM (
            SELECT query_id AS u, neighbor_id AS v FROM knn
            UNION ALL
            SELECT neighbor_id, query_id FROM knn
        ) WHERE u <> v
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
    wedges AS (
        SELECT a.u AS x, b.u AS y, a.v AS z
        FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
    ),
    non_edge AS (
        SELECT w.x, w.y, w.z FROM wedges w
        LEFT JOIN e ON e.u = w.x AND e.v = w.y
        WHERE e.u IS NULL
    ),
    terms AS (SELECT x, y, deg FROM non_edge JOIN deg ON deg.u = z)
    SELECT x AS id_a, y AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(1.0 / ln(CAST(deg AS DOUBLE))
                                 ORDER BY deg, x)),
               (acc, t) -> acc + t), 9) AS aa
    FROM terms GROUP BY x, y
    """,
)
def adamic_adar_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the embedding kNN graph
    (operators/graph.adamic_adar): for every distance-2 NON-edge of the
    k=5 cosine-neighbor graph (nodes capped at vec_id < 500 — an
    explicit, oracle-mirrored analysis parameter, not a silent
    truncation), the Adamic–Adar score Σ 1/ln(deg) over common
    neighbors — "should these two be linked, given how selective their
    mutual neighbors are".  The per-pair sum is a SORTED fold (order
    pinned by (deg, z)), each term a single ln + division — the
    9-decimal discipline absorbs sub-ulp term noise.  At corpus scale
    the kNN build swaps to the blocked/IVF path; the AA stage is
    join-shaped either way."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _AA_N)
    knn = S.brute_force_topk(e, e, "vec_id", "embedding", _DIM, _AA_K) \
        .select(F.col("query_id").alias("id_a"),
                F.col("neighbor_id").alias("id_b"))
    return G2.adamic_adar(knn)


@query(
    "gini_doclen_by_source",
    oracle="""
    WITH r AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rk
        FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           round(CAST(2 * SUM(CAST(rk AS HUGEINT) * n_chars)
                      - (COUNT(*) + 1) * CAST(SUM(n_chars) AS HUGEINT)
                      AS DOUBLE)
                 / CAST(COUNT(*) * CAST(SUM(n_chars) AS HUGEINT)
                        AS DOUBLE), 9) AS gini
    FROM r GROUP BY source
    """,
)
def gini_doclen_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source — the inequality
    diagnostic of a corpus mix (a source whose token mass concentrates
    in a handful of giant documents behaves very differently downstream
    than one with the same mean and uniform lengths).  Exact rank
    formula ``(2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)`` over the ascending
    ``(n_chars, doc_id)`` order: ranks are deterministic, equal values
    are swap-invariant in Σ i·x, every sum is a bigint, and the ONLY
    float operation is the single terminal division (the
    moments_per_event_type discipline).  The per-source rank window
    serializes per source at extreme scale — the sortless form is the
    bucket-offset decomposition of evalstats.cum_below; at |sources| ≈ 20
    the sort path is the honest default."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select("source", "n_chars", F.row_number().over(w).alias("rk"))
    n = F.count(F.lit(1)).cast("decimal(38,0)")
    sx = F.sum("n_chars").cast("decimal(38,0)")
    # rank·value products and n·Σx stage through DECIMAL — rk·x and the
    # final cross-terms outgrow int64 on billion-row sources (the same
    # overflow class the 100× rehearsal caught in autocorr); DuckDB
    # mirror uses HUGEINT
    six = F.sum(F.col("rk").cast("decimal(38,0)") * F.col("n_chars"))
    return r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round((2 * six - (n + 1) * sx).cast("double")
                / (n * sx).cast("double"), 9).alias("gini"))


_ZIPF_R = 500     # ranks entering the log-log fit (head of the law)


@query(
    "zipf_slope_by_lang",
    oracle=f"""
    WITH tf AS (
        SELECT lang, t.tk AS tok, COUNT(*) AS freq
        FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents) d,
             LATERAL (SELECT unnest(toks) AS tk) t
        WHERE t.tk <> ''
        GROUP BY 1, 2
    ),
    rk AS (
        SELECT lang, freq,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY freq DESC, tok) AS r
        FROM tf QUALIFY r <= {_ZIPF_R}
    ),
    folded AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_ranks,
               list_reduce(
                   list_prepend(
                       {{'sx': 0.0, 'sy': 0.0, 'sxy': 0.0, 'sxx': 0.0}},
                       list({{'sx': ln(CAST(r AS DOUBLE)),
                              'sy': ln(CAST(freq AS DOUBLE)),
                              'sxy': ln(CAST(r AS DOUBLE))
                                     * ln(CAST(freq AS DOUBLE)),
                              'sxx': ln(CAST(r AS DOUBLE))
                                     * ln(CAST(r AS DOUBLE))}} ORDER BY r)),
                   (a, e) -> {{'sx': a.sx + e.sx, 'sy': a.sy + e.sy,
                               'sxy': a.sxy + e.sxy,
                               'sxx': a.sxx + e.sxx}}) AS s
        FROM rk GROUP BY lang
    )
    SELECT lang, n_ranks,
           round((CAST(n_ranks AS DOUBLE) * s.sxy - s.sx * s.sy)
                 / (CAST(n_ranks AS DOUBLE) * s.sxx - s.sx * s.sx), 9)
               AS zipf_slope
    FROM folded
    """,
)
def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per language: OLS slope of ln(freq) on ln(rank)
    over the top-500 token ranks — the classic corpus-health diagnostic
    (natural text sits near −1; templated/boilerplate-heavy or
    synthetic text bends the head of the law).  Rank order is pinned by
    (freq DESC, tok); the four regression sums fold in RANK ORDER on
    both engines (the adamic_adar sorted-fold discipline — float sums
    have no portable order otherwise), and the slope emits through one
    rounded division chain.  The per-lang fold array is ≤ 500 structs —
    bounded by the parameter, never by the corpus."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(T.tokenize("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "tok")
    rk = tf.select("lang", "freq", F.row_number().over(w).alias("r")) \
        .where(F.col("r") <= _ZIPF_R)
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    terms = rk.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.array_sort(F.collect_list(F.struct(
            F.col("r").alias("r"), x.alias("sx"), y.alias("sy"),
            (x * y).alias("sxy"), (x * x).alias("sxx")))).alias("arr"))
    zero = F.struct(F.lit(0.0).alias("sx"), F.lit(0.0).alias("sy"),
                    F.lit(0.0).alias("sxy"), F.lit(0.0).alias("sxx"))
    s = F.aggregate(
        "arr", zero,
        lambda a, e: F.struct(
            (a["sx"] + e["sx"]).alias("sx"), (a["sy"] + e["sy"]).alias("sy"),
            (a["sxy"] + e["sxy"]).alias("sxy"),
            (a["sxx"] + e["sxx"]).alias("sxx")))
    n = F.col("n_ranks").cast("double")
    return terms.select(
        "lang", "n_ranks",
        F.round((n * s["sxy"] - s["sx"] * s["sy"])
                / (n * s["sxx"] - s["sx"] * s["sx"]), 9)
        .alias("zipf_slope"))


@query(
    "gopher_repetition_signals",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    grams AS (
        SELECT doc_id, g.gr
        FROM toks, LATERAL (
            SELECT unnest(list_transform(
                list_zip(tk[1:len(tk)-1], tk[2:len(tk)]),
                p -> p[1] || ' ' || p[2])) AS gr) g
        WHERE len(tk) >= 2
    ),
    gc AS (SELECT doc_id, gr, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    per AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(MAX(c) AS BIGINT) AS top_c,
               CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
                   AS dup_occ
        FROM gc GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(per.n_grams, 0) AS n_grams,
           CAST(per.top_c AS DOUBLE) / per.n_grams AS top2gram_frac,
           CAST(per.dup_occ AS DOUBLE) / per.n_grams AS dup2gram_frac
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Rae et al., Gopher data-quality
    filters — public literature): the fraction of a document's token
    2-gram occurrences covered by its single most frequent 2-gram
    (``top2gram_frac``: boilerplate/template detector) and by 2-grams
    occurring ≥ 2 times (``dup2gram_frac``: loops and stutter).  One
    explode → per-(doc, gram) count → per-doc fold; all counts are exact
    bigints and each fraction is ONE IEEE double division —
    engine-portable without rounding.  Documents with < 2 tokens restore
    by left join with zero grams and NULL fractions (no signal, not a
    0% signal)."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    grams = (
        d.select("doc_id", tk.alias("tk"))
        .where(F.size("tk") >= 2)
        .select("doc_id", F.explode(F.transform(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("l"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("r")),
            lambda p: F.concat_ws(" ", p["l"], p["r"]))).alias("gr"))
    )
    gc = grams.groupBy("doc_id", "gr").agg(F.count(F.lit(1)).alias("c"))
    per = gc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.max("c").cast("bigint").alias("top_c"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0))
        .cast("bigint").alias("dup_occ"))
    return (
        d.select("doc_id").join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            (F.col("top_c").cast("double") / F.col("n_grams"))
            .alias("top2gram_frac"),
            (F.col("dup_occ").cast("double") / F.col("n_grams"))
            .alias("dup2gram_frac"))
    )


@query(
    "lorenz_curve_doclen",
    oracle="""
    WITH r AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               SUM(n_chars) OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
               COUNT(*) OVER (PARTITION BY source) AS n,
               SUM(n_chars) OVER (PARTITION BY source) AS tot
        FROM documents
    ),
    d AS (SELECT unnest(range(1, 11)) AS decile)
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(cum AS BIGINT) AS cum_chars,
           CAST(cum AS DOUBLE) / tot AS share
    FROM r JOIN d ON rn = (n * decile + 9) // 10
    """,
)
def lorenz_curve_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of document length per source — the distributional
    picture behind gini_doclen_by_source: at each population decile d,
    the cumulative share of characters held by the smallest d/10 of
    documents (a source where L(9) ≈ 0.2 keeps 80% of its mass in its
    top decile).  Ascending (n_chars, doc_id) rank + running bigint
    cumsum in ONE window pass; decile rows picked at the integer
    nearest-rank index ceil(d·n/10); the only float is each share's
    single division.  Equal values are swap-invariant in the cumsum at
    equal ranks, so picks are deterministic."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    wo = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    r = d.select(
        "source", "n_chars",
        F.row_number().over(wo).alias("rn"),
        F.sum("n_chars").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.sum("n_chars").over(wn).alias("tot"))
    dec = spark.range(1, 11).select(F.col("id").cast("bigint")
                                    .alias("decile"))
    return (
        r.join(F.broadcast(dec),
               F.col("rn") == F.expr("(n * decile + 9) div 10"))
        .select("source", "decile",
                F.col("cum").cast("bigint").alias("cum_chars"),
                (F.col("cum").cast("double") / F.col("tot")).alias("share"))
    )


_VOCAB_CURVE_SQL = """
    WITH dr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
               COUNT(*) OVER () AS nd,
               len(string_split(text, ' ')) AS ntok
        FROM documents
    ),
    tok AS (
        SELECT t.tk AS tok, MIN(dr.rk) AS first_rk
        FROM (SELECT doc_id, rk FROM dr) dr
        JOIN documents d USING (doc_id),
             LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tk) t
        WHERE t.tk <> ''
        GROUP BY 1
    ),
    m AS (SELECT unnest(range(1, 11)) AS decile),
    cuts AS (SELECT decile, (SELECT (nd * decile + 9) // 10
                             FROM dr LIMIT 1) AS cut FROM m)
    SELECT c.decile AS decile,
           (SELECT CAST(SUM(ntok) AS BIGINT) FROM dr
            WHERE rk <= c.cut) AS n_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tok
            WHERE first_rk <= c.cut) AS n_distinct
    FROM cuts c
    """


@query("vocab_growth_curve", oracle=_VOCAB_CURVE_SQL)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct-token
    count against cumulative token count at each corpus decile (docs
    ordered by doc_id — the generator's arrival order), the
    tokenizer-budget diagnostic that pairs with zipf_slope_by_lang
    (natural text grows ~n^β, β ≈ 0.5; a flattening curve says the
    vocabulary is saturating).  No iterative scan: each distinct
    token's FIRST document rank is one min-aggregation, so
    "distinct so far at cutoff" is a count of first-ranks ≤ cutoff
    and "tokens so far" a sum over docs — two aggregate-sized broadcast
    joins with the decile ladder, all integers.  There is NO global
    rank window anywhere (the package lints those out): doc_id is
    unique, so the decile RANK cutoff and the doc_id VALUE at that rank
    select identical prefixes — the ten cutoff values come from one
    group_percentiles_hist pass (qs = 10..100, and ceil(10d·n/100) ≡
    ceil(d·n/10), the oracle's index)."""
    import map_reduce_folds_spark.operators.windows as W2

    d = load_table(spark, sf_dir, "documents")
    dr = d.select("doc_id",
                  F.size(F.split("text", " ")).alias("ntok")) \
        .localCheckpoint(eager=False)
    qrow = W2.group_percentiles_hist(
        dr.withColumn("__g", F.lit(1)), ["__g"], "doc_id",
        qs=tuple(range(10, 101, 10)))
    cuts = qrow.select(F.explode(F.array(*[
        F.struct(F.lit(i).cast("bigint").alias("decile"),
                 F.col(f"p{10 * i}").alias("cut"))
        for i in range(1, 11)])).alias("e")).select("e.decile", "e.cut")
    tok = (
        d.select("doc_id", F.explode(T.tokenize("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    )
    toks_at = (
        dr.crossJoin(F.broadcast(cuts))
        .where(F.col("doc_id") <= F.col("cut"))
        .groupBy("decile").agg(F.sum("ntok").cast("bigint")
                               .alias("n_tokens")))
    dist_at = (
        tok.crossJoin(F.broadcast(cuts))
        .where(F.col("first_doc") <= F.col("cut"))
        .groupBy("decile").agg(F.count(F.lit(1)).cast("bigint")
                               .alias("n_distinct")))
    return toks_at.join(dist_at, "decile").select(
        "decile", "n_tokens", "n_distinct")


@query(
    "heaps_law_fit",
    oracle=f"""
    WITH curve AS ({_VOCAB_CURVE_SQL}),
    pts AS (SELECT * FROM curve WHERE n_tokens > 0 AND n_distinct > 0),
    folded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
               list_reduce(
                   list_prepend(
                       {{'sx': 0.0, 'sy': 0.0, 'sxy': 0.0, 'sxx': 0.0}},
                       list({{'sx': ln(CAST(n_tokens AS DOUBLE)),
                              'sy': ln(CAST(n_distinct AS DOUBLE)),
                              'sxy': ln(CAST(n_tokens AS DOUBLE))
                                     * ln(CAST(n_distinct AS DOUBLE)),
                              'sxx': ln(CAST(n_tokens AS DOUBLE))
                                     * ln(CAST(n_tokens AS DOUBLE))}}
                            ORDER BY decile)),
                   (a, e) -> {{'sx': a.sx + e.sx, 'sy': a.sy + e.sy,
                               'sxy': a.sxy + e.sxy,
                               'sxx': a.sxx + e.sxx}}) AS s
        FROM pts
    )
    SELECT n_points,
           CASE WHEN n_points > 1
                 AND CAST(n_points AS DOUBLE) * s.sxx - s.sx * s.sx > 0.0
           THEN round((CAST(n_points AS DOUBLE) * s.sxy - s.sx * s.sy)
                 / (CAST(n_points AS DOUBLE) * s.sxx - s.sx * s.sx), 9)
           END AS heaps_beta,
           CASE WHEN n_points > 1
                 AND CAST(n_points AS DOUBLE) * s.sxx - s.sx * s.sx > 0.0
           THEN round(exp((s.sy
                 - ((CAST(n_points AS DOUBLE) * s.sxy - s.sx * s.sy)
                    / (CAST(n_points AS DOUBLE) * s.sxx - s.sx * s.sx))
                   * s.sx) / CAST(n_points AS DOUBLE)), 9)
           END AS heaps_k
    FROM folded
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW fit V = k·N^β over the ten-decile vocabulary growth
    curve (Heaps 1978; Herdan's law) — the SCALING-LAW summary of
    vocab_growth_curve: β near 0.5 is natural text, β drifting low
    says the vocabulary is saturating (dedup/boilerplate signal), and
    extrapolating k·N^β prices the tokenizer vocab for a 100 TB
    corpus from a fixture-sized prefix.  Rides the zipf_slope sorted-
    fold OLS idiom verbatim: the ten (ln N, ln V) points fold in
    DECILE ORDER on both engines, β and k = exp(intercept) emit
    through one rounded chain each (round-9 after the exp, the shared
    discipline)."""
    curve = vocab_growth_curve(spark, sf_dir)
    pts = curve.where((F.col("n_tokens") > 0) & (F.col("n_distinct") > 0))
    x = F.log(F.col("n_tokens").cast("double"))
    y = F.log(F.col("n_distinct").cast("double"))
    terms = pts.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.array_sort(F.collect_list(F.struct(
            F.col("decile").alias("d"), x.alias("sx"), y.alias("sy"),
            (x * y).alias("sxy"), (x * x).alias("sxx")))).alias("arr"))
    zero = F.struct(F.lit(0.0).alias("sx"), F.lit(0.0).alias("sy"),
                    F.lit(0.0).alias("sxy"), F.lit(0.0).alias("sxx"))
    s = F.aggregate(
        "arr", zero,
        lambda a, e: F.struct(
            (a["sx"] + e["sx"]).alias("sx"),
            (a["sy"] + e["sy"]).alias("sy"),
            (a["sxy"] + e["sxy"]).alias("sxy"),
            (a["sxx"] + e["sxx"]).alias("sxx")))
    st = terms.select("n_points", s.alias("s"))
    n = F.col("n_points").cast("double")
    beta = ((n * F.col("s.sxy") - F.col("s.sx") * F.col("s.sy"))
            / (n * F.col("s.sxx") - F.col("s.sx") * F.col("s.sx")))
    ok = (F.col("n_points") > 1) \
        & ((n * F.col("s.sxx") - F.col("s.sx") * F.col("s.sx")) > 0.0)
    return st.select(
        "n_points",
        F.when(ok, F.round(beta, 9)).alias("heaps_beta"),
        F.when(ok, F.round(F.exp(
            (F.col("s.sy") - beta * F.col("s.sx")) / n), 9))
        .alias("heaps_k"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

_WIN_K = 3   # gram size (tokens)
_WIN_W = 4   # winnowing window (grams) — expected density 2/(w+1)


@query(
    "winnow_fingerprint_stats",
    oracle=f"""
    WITH fp AS ({T.winnow_fingerprints_sql('documents', k=_WIN_K, w=_WIN_W)})
    SELECT doc_id, COUNT(*) AS n_fp,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_fp,
           MIN(g) AS min_fp, MAX(g) AS max_fp
    FROM fp GROUP BY doc_id
    """,
)
def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary
    (operators/text.winnow_fingerprints — the MOSS selection rule):
    selected-position count, distinct fingerprint count, and the hash
    extrema as value witnesses.  Density across the corpus sits near the
    paper's 2/(w+1) expectation; the per-doc counts are the audit that a
    fingerprint index stayed a constant fraction of the gram stream."""
    d = load_table(spark, sf_dir, "documents")
    fp = T.winnow_fingerprints(d, "doc_id", "text", k=_WIN_K, w=_WIN_W)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.count_distinct("g").alias("n_distinct_fp"),
        F.min("g").alias("min_fp"),
        F.max("g").alias("max_fp"),
    )


@query(
    "winnow_overlap_pairs",
    oracle=f"""
    WITH fp AS ({T.winnow_fingerprints_sql('documents', k=_WIN_K, w=_WIN_W)}),
    d AS (SELECT DISTINCT doc_id, g FROM fp),
    dfc AS (SELECT g, COUNT(*) AS c FROM d GROUP BY g),
    e AS (SELECT doc_id, d.g FROM d JOIN dfc USING (g) WHERE dfc.c <= 10),
    p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared FROM p WHERE shared >= 2
    """,
)
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style copy-detection audit
    (operators/text.winnow_overlap_pairs): document pairs sharing >= 2
    winnowing fingerprints, boilerplate fingerprints (doc-frequency > 10)
    dropped before the pair join so a header gram shared by d documents
    cannot contribute d^2 candidate rows.  Surfaces the fixture corpus's
    genuine near-copies from a ~2/(w+1)-density index instead of an
    all-grams inverted index."""
    d = load_table(spark, sf_dir, "documents")
    return T.winnow_overlap_pairs(
        d, "doc_id", "text", k=_WIN_K, w=_WIN_W, min_shared=2, max_df=10)


# ---------------------------------------------------------------------------
# Naive Bayes classifier (trained quality/domain filter)
# ---------------------------------------------------------------------------

_NB_TRAIN_SQL = "doc_id % 2 = 0"   # deterministic train/held-out split
_NB_B = 256
_NB_ALPHA = 0.1

# The fixture's lang label is independent metadata over a shared vocabulary
# (see lang_id_confusion) — no text classifier can recover it.  Plant a
# recoverable signal the way _planted plants duplicates: append each lang's
# two lexicon markers to its documents, deterministically, on BOTH engines.
_NB_MARK = {lg: " ".join(ws[:2]) for lg, ws in T.LANG_MARKERS.items()}
_NB_MARK_SQL = ("CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN text || ' {m}'" for lg, m in _NB_MARK.items())
    + " ELSE text END")


def _nb_marked_df(d: DataFrame) -> DataFrame:
    mark = F.col("text")
    for lg, m in _NB_MARK.items():
        mark = F.when(F.col("lang") == lg,
                      F.concat(F.col("text"), F.lit(" " + m))).otherwise(mark)
    return d.withColumn("text", mark)


def _nb_marked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _nb_marked_df(load_table(spark, sf_dir, "documents"))


@query(
    "nb_lang_confusion",
    oracle=f"""
    WITH marked AS (
        SELECT doc_id, {_NB_MARK_SQL} AS text, lang FROM documents
    ),
    nb AS ({Q.nb_classify_sql(_NB_TRAIN_SQL, src='marked', class_col='lang',
                              n_buckets=_NB_B, alpha=_NB_ALPHA)}),
    held AS (
        SELECT d.lang, nb.pred
        FROM nb JOIN documents d USING (doc_id)
        WHERE NOT ({_NB_TRAIN_SQL})
    )
    SELECT lang, pred, COUNT(*) AS n_docs
    FROM held GROUP BY lang, pred
    """,
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier gate (operators/quality.nb_classify): fit a
    multinomial Naive Bayes on the even-id half of the marker-planted
    corpus with the language as the label, score the held-out half, and
    report the confusion matrix — the standard audit of a learned
    quality/domain filter before it gates a 100 TB crawl.  Model is a
    bounded B×K hashed-count relation (broadcast); scoring is one corpus
    scan.  The planted markers make the label recoverable (the fixture's
    raw lang is metadata-only), so the matrix is meaningfully diagonal
    AND value-exact under the oracle."""
    d = _nb_marked(spark, sf_dir)
    nb = Q.nb_classify(d, "lang", F.expr(_NB_TRAIN_SQL),
                       n_buckets=_NB_B, alpha=_NB_ALPHA)
    held = nb.join(d.select("doc_id", "lang"), "doc_id") \
             .where(~F.expr(_NB_TRAIN_SQL))
    return held.groupBy("lang", "pred").agg(
        F.count(F.lit(1)).alias("n_docs"))


@query("bigram_logprob", oracle=Q.bigram_logprob_sql("documents"))
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity-proxy quality signal
    (operators/quality.bigram_logprob): each document's mean
    ln p(w_i | w_{i-1}) under the corpus's own add-1-smoothed bigram
    model — catches scrambled/repetitive token ORDER that the unigram
    filter (unigram_logprob) cannot see.  Two vocabulary-sized count
    aggregations + token-keyed joins; sorted-fold + 9-decimal-round make
    the ln-bearing score hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    return Q.bigram_logprob(d, "doc_id", "text")


_V3_BG_GATE = -3.43   # bigram mean_logprob gate (≈ p10 at sf0.01)


@query(
    "pipeline_curation_v3",
    oracle=f"""
    WITH marked AS (
        SELECT doc_id, {_NB_MARK_SQL} AS text, lang FROM documents
    ),
    nb AS ({Q.nb_classify_sql(_NB_TRAIN_SQL, src='marked', class_col='lang',
                              n_buckets=_NB_B, alpha=_NB_ALPHA)}),
    agree AS (
        SELECT nb.doc_id FROM nb JOIN documents d USING (doc_id)
        WHERE nb.pred = d.lang
    ),
    s1 AS (
        SELECT * FROM documents
        WHERE doc_id IN (SELECT doc_id FROM agree)
    ),
    fp AS ({T.winnow_fingerprints_sql('s1', k=_WIN_K, w=_WIN_W)}),
    wd AS (SELECT DISTINCT doc_id, g FROM fp),
    wdf AS (SELECT g, COUNT(*) AS c FROM wd GROUP BY g),
    we AS (SELECT doc_id, wd.g FROM wd JOIN wdf USING (g) WHERE wdf.c <= 10),
    wp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM we a JOIN we b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    s2 AS (
        SELECT * FROM s1 WHERE doc_id NOT IN (SELECT id_b FROM wp)
    ),
    bgq AS ({Q.bigram_logprob_sql('documents')}),
    s3 AS (
        SELECT s2.* FROM s2 JOIN bgq USING (doc_id)
        WHERE bgq.mean_logprob >= {_V3_BG_GATE!r}
    )
    SELECT doc_id, source
    FROM ({SM.temperature_mix_sql('s3', 'source', 'doc_id', salt='cur3')}) z
    """,
)
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-13 operator surface composed into ONE curation
    pipeline: Naive-Bayes label-agreement filter (drop docs whose
    trained-classifier prediction disagrees with their label — the
    label-noise gate) → winnowing-fingerprint copy removal (keep-first
    over MOSS overlap pairs) → bigram-LM perplexity gate (corpus-model
    mean ln p(w_i|w_{i-1}) ≥ p10) → temperature-reweighted source mixing
    (τ = 0.5).  Every stage is an existing operator; the whole chain is
    one Catalyst plan and the oracle chains the stages' SQL mirrors —
    the composition thesis of pipeline_curation_v2 extended to the
    round-13 families, verified by hash."""
    return _curation_v3_from(load_table(spark, sf_dir, "documents"))


def _curation_v3_from(d: DataFrame, boundaries: bool = True) -> DataFrame:
    """The v3 chain over a given documents relation — shared by the
    raw-parquet registration and the doc_id-bucketed layout variant.

    SHARED-STAGE BOUNDARIES (r14, the v5/conformal recipe): without
    them the final plan replays the NB-classifier subplan 4× and the
    winnow/bigram subplans 2× — s1 feeds both the winnow pair build
    and the anti-join base, and temperature_mix reads its input twice
    (mass aggregate + keep filter).  Each boundary is a lazy
    ``localCheckpoint`` of a NARROW doc_id(-, source) relation only
    (guide §2.3: keys, not payloads), so the wide documents relation
    is never materialized, every gate join against ``d`` keeps
    reading the caller's layout (raw parquet or the bucketed catalog
    table), nothing is registered in the CacheManager (a fresh
    invocation recomputes from parquet — no cross-run reuse), and the
    ContextCleaner frees the blocks.  ``boundaries=False`` builds the
    same chain without the cuts — used by the bucketed-layout plan
    pin, which needs the gate joins visible in ONE plan string
    (checkpoint subplans compile to RDDs at build time and vanish
    from the final explain)."""
    def cut(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if boundaries else df

    good_lazy = Q.bigram_logprob(d).where(
        F.col("mean_logprob") >= F.lit(_V3_BG_GATE)).select("doc_id")
    if boundaries:
        # r15 (§2.6 job overlap, the elbow recipe): the perplexity gate
        # is INDEPENDENT of the NB→winnow chain but the lazy boundaries
        # used to materialize strictly serially inside the final action
        # (measured sf0.01 warm: good 0.98 s + nb_agree 1.58 s +
        # winnow_drop 2.07 s summed).  Materialize `good` from the
        # shared pool while THIS thread eagerly materializes the
        # nb→winnow drop list — the 1 s gate rides inside the 3.7 s
        # chain.  Same checkpoints, same contents, order-free (the
        # stages share no state), so results are bit-identical.
        good_fut = _branch_pool().submit(
            lambda: good_lazy.localCheckpoint(eager=True))
    try:
        marked = _nb_marked_df(d)
        nb = Q.nb_classify(marked, "lang", F.expr(_NB_TRAIN_SQL),
                           n_buckets=_NB_B, alpha=_NB_ALPHA)
        agree = cut(nb.join(d.select("doc_id", "lang"), "doc_id")
                    .where(F.col("pred") == F.col("lang")).select("doc_id"))
        s1 = d.join(agree, "doc_id", "left_semi")
        pairs = T.winnow_overlap_pairs(s1, k=_WIN_K, w=_WIN_W,
                                       min_shared=2, max_df=10)
        drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        if boundaries:
            drop = drop.localCheckpoint(eager=True)  # runs ∥ good_fut
            good = good_fut.result()
        else:
            good = good_lazy
    finally:
        if boundaries:
            _settle(good_fut)
    s2 = s1.join(drop, "doc_id", "left_anti")
    s3 = cut(s2.join(good, "doc_id", "left_semi")
             .select("doc_id", "source"))
    return SM.temperature_mix(s3, "source", "doc_id", salt="cur3") \
        .select("doc_id", "source")


# identical oracle to pipeline_curation_v3: a bucketed LAYOUT must never
# change results, only the physical plan
_V3_ORACLE = ORACLES["pipeline_curation_v3"]


@query("pipeline_curation_v3_bucketed", oracle=_V3_ORACLE)
def pipeline_curation_v3_bucketed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """pipeline_curation_v3 over a doc_id-BUCKETED documents layout —
    the scale_audit recommendation from the round-13 session-2 run
    promoted to a first-class registered query (the q9 write-once
    recipe applied to the curation pipeline): documents materializes
    ONCE per corpus path as a catalog table bucketed AND sorted on
    doc_id, and every curation gate join (NB label-agreement semi,
    winnow-copy anti, perplexity semi — all doc_id-keyed) then reads
    the bucket layout instead of re-shuffling the WIDE text relation
    per stage.  At sf0.01 AQE broadcasts the skinny gate sides either
    way; the layout is the 100 TB shape, where gate outputs outgrow a
    broadcast and each stage join would otherwise pay a full-corpus
    SortMergeJoin shuffle per run.  Plan-pinned in test_plans (with
    auto-broadcast off, the bucketed variant compiles strictly fewer
    Exchanges and no doc_id Sort over the documents side); results are
    pinned bitwise-identical to the raw-parquet registration (same
    oracle)."""
    import hashlib
    import os
    import shutil

    from map_reduce_folds_spark.sources import write_bucketed

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    tbl = f"docs_bkt_cur_{tag}"
    if not spark.catalog.tableExists(tbl):
        # a dead session leaves the warehouse dir after the catalog
        # entry is gone — clear it so the write-once is idempotent
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
        write_bucketed(load_table(spark, sf_dir, "documents"), tbl,
                       ["doc_id"], n_buckets=32, sort_cols=["doc_id"])
    return _curation_v3_from(spark.table(tbl))


@query(
    "tokenizer_fertility_by_lang",
    oracle=None,  # set below (wraps the train-then-encode CTE chain)
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — subword tokens emitted per
    word (the standard multilingual tokenizer-equity audit: a
    vocabulary trained on a skewed mix over-segments under-represented
    languages, inflating their sequence lengths and training cost; cf.
    the mT5/ByT5 fertility analyses, public literature).  Composes the
    BPE ENCODE step (operators/bpe.bpe_encode_token_counts — word-level
    cache replay) with a per-lang roll-up: integer token/word sums are
    exact, fertility is one terminal IEEE division."""
    from map_reduce_folds_spark.operators import bpe as BP

    d = load_table(spark, sf_dir, "documents")
    enc = BP.bpe_encode_token_counts(d, "doc_id", "text", _BPE_MERGES)
    return (
        enc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_words").alias("total_words"),
             F.sum("n_tokens").alias("total_tokens"),
             (F.sum("n_tokens").cast("double")
              / F.sum("n_words").cast("double")).alias("fertility"))
    )


def _set_fertility_oracle():
    from map_reduce_folds_spark.operators import bpe as BP
    from map_reduce_folds_spark.queries.registry import ORACLES

    ORACLES["tokenizer_fertility_by_lang"] = f"""
    WITH enc AS ({BP.bpe_encode_sql(_BPE_MERGES)})
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(enc.n_words) AS BIGINT) AS total_words,
           CAST(SUM(enc.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(enc.n_tokens) AS DOUBLE)
               / CAST(SUM(enc.n_words) AS DOUBLE) AS fertility
    FROM enc JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


_set_fertility_oracle()


@query(
    "winnow_contamination_audit",
    oracle=f"""
    WITH fpall AS ({T.winnow_fingerprints_sql('documents',
                                              k=_WIN_K, w=_WIN_W)}),
    ev AS (SELECT DISTINCT g FROM fpall WHERE doc_id % 50 = 0),
    d AS (SELECT DISTINCT doc_id, g FROM fpall WHERE doc_id % 50 != 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM d GROUP BY 1),
    hits AS (SELECT doc_id, COUNT(*) AS c FROM d
             WHERE g IN (SELECT g FROM ev) GROUP BY 1)
    SELECT s.doc_id, s.n_fp,
           CAST(COALESCE(h.c, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.c, 0) AS DOUBLE) / s.n_fp AS overlap
    FROM sizes s LEFT JOIN hits h USING (doc_id)
    """,
)
def winnow_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit over the WINNOWED index
    (operators/text.winnow_contamination): every 50th doc plays the
    eval set, the rest are training docs scored by the fraction of
    their winnowing fingerprints present in the eval universe.  The
    coverage guarantee makes this exact for shared runs of w+k−1
    tokens while both sides carry only ~2/(w+1) of their grams — the
    audit a 100 TB corpus can afford to run per eval-set release
    against a materialized fingerprint index."""
    d = load_table(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 50 != 0)
    ev = d.where(F.col("doc_id") % 50 == 0)
    return T.winnow_contamination(train, ev, k=_WIN_K, w=_WIN_W)


@query(
    "dedup_savings_winnow",
    oracle=f"""
    WITH RECURSIVE
    fp AS ({T.winnow_fingerprints_sql('documents', k=_WIN_K, w=_WIN_W)}),
    wd AS (SELECT DISTINCT doc_id, g FROM fp),
    wdf AS (SELECT g, COUNT(*) AS c FROM wd GROUP BY g),
    we AS (SELECT doc_id, wd.g FROM wd JOIN wdf USING (g)
           WHERE wdf.c <= 10),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM we a JOIN we b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component
             FROM reach GROUP BY node),
    d AS (
        SELECT doc_id, source, n_chars,
               COALESCE(component, doc_id) AS cluster
        FROM documents LEFT JOIN comp USING (doc_id)
    ),
    rep AS (
        SELECT cluster,
               (MIN({{'a': -n_chars, 'b': doc_id}})).b AS rep_id
        FROM d GROUP BY cluster
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN doc_id <> rep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN doc_id <> rep_id THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_dropped
    FROM d JOIN rep USING (cluster)
    GROUP BY source
    """,
)
def dedup_savings_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The savings report under the WINNOWING copy-detection policy —
    the new fingerprint family composed with the policy-agnostic
    ``cluster_savings`` accounting (MOSS overlap pairs → CC →
    keep-the-longest rep → per-source kept/dropped).  The oracle walks
    the same capped fingerprint join into a recursive-CTE closure —
    one gate covers the pair policy AND the accounting."""
    d = load_table(spark, sf_dir, "documents")
    pairs = T.winnow_overlap_pairs(d, k=_WIN_K, w=_WIN_W,
                                   min_shared=2, max_df=10)
    return D.cluster_savings(d, "doc_id", "text", "n_chars", "source",
                             pairs=pairs)


@query(
    "winnow_ingest_audit",
    oracle=f"""
    WITH fpall AS ({T.winnow_fingerprints_sql('documents',
                                              k=_WIN_K, w=_WIN_W)}),
    fpn AS (SELECT DISTINCT doc_id, g FROM fpall WHERE doc_id % 3 = 0),
    idx AS (SELECT DISTINCT doc_id AS old_id, g FROM fpall
            WHERE doc_id % 3 != 0),
    dfc AS (SELECT g, COUNT(*) AS c FROM idx GROUP BY g),
    idx_ok AS (SELECT old_id, idx.g FROM idx JOIN dfc USING (g)
               WHERE dfc.c <= 10),
    shared AS (
        SELECT doc_id, MAX(s) AS best_shared FROM (
            SELECT doc_id, old_id, COUNT(*) AS s
            FROM fpn JOIN idx_ok USING (g) GROUP BY 1, 2)
        GROUP BY 1
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM fpn GROUP BY 1)
    SELECT s.doc_id, s.n_fp,
           CAST(COALESCE(h.best_shared, 0) AS BIGINT) AS best_shared,
           COALESCE(h.best_shared, 0) >= 2 AS is_dup
    FROM sizes s LEFT JOIN shared h USING (doc_id)
    """,
)
def winnow_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest (operators/text.winnow_ingest): every
    third document plays the ARRIVING batch, the rest are the already-
    ingested corpus's fingerprint index — each batch doc is scored by
    its best fingerprint overlap with any single indexed doc and
    flagged when it crosses the pair threshold.  The per-batch cost
    rides the batch and the capped index join, never re-pairing the
    history — the fingerprint analog of the digest-table incremental
    exact dedup."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.where(F.col("doc_id") % 3 == 0)
    existing = d.where(F.col("doc_id") % 3 != 0)
    idx = T.winnow_fingerprints(existing, k=_WIN_K, w=_WIN_W)
    return T.winnow_ingest(batch, idx, k=_WIN_K, w=_WIN_W,
                           min_shared=2, max_df=10)


_KM_K, _KM_ITERS = 8, 3


@query(
    "kmeans_centroids",
    oracle=S.kmeans_sql(_KM_K, _KM_ITERS, _DIM),
)
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over ALL embeddings
    (operators/similarity.kmeans_fit_distributed — no driver sample):
    k=8, 3 fixed iterations, long-form centroids (cid, dim, coordinate,
    member count).  Exact integer quantized sums make every centroid
    coordinate and every assignment engine-exact, so the iterative
    trainer sits under the bitwise oracle gate (unrolled-CTE mirror) —
    the trained-quantizer analog of pagerank's fixed-point story."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_fit_distributed(emb, "vec_id", "embedding", _DIM,
                                    k=_KM_K, iters=_KM_ITERS)


@query(
    "sim_topk_ivf_trained",
    oracle=S.ivf_kmeans_topk_sql("WHERE e.vec_id < 5", dim=_DIM, k=_TOPK,
                                 km_k=_KM_K, km_iters=_KM_ITERS, n_probe=4),
)
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 under the DISTRIBUTED-trained kmeans quantizer — the
    historically rows-only configuration made hash-exact: the full-corpus
    Lloyd's fit (kmeans_fit_distributed) is itself SQL-derivable, so the
    oracle chains training and search into one statement
    (operators/similarity.ivf_kmeans_topk_sql).  The driver-sample
    ivf_topk default remains the quick path; this registration proves
    the trained pipeline end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    km = S.kmeans_fit_distributed(emb, "vec_id", "embedding", _DIM,
                                  k=_KM_K, iters=_KM_ITERS)
    rows = km.collect()  # bounded: K×dim model
    cents: dict[int, list[float]] = {}
    for r in rows:
        cents.setdefault(r.cid, [0.0] * _DIM)[r.j] = r.c
    centroids = [cents[c] for c in sorted(cents)]
    q = emb.filter("vec_id < 5")
    return S.ivf_topk(q, emb, "vec_id", "embedding", _DIM, _TOPK,
                      n_probe=4, centroids=centroids)


@query(
    "kmeans_inertia",
    oracle=S.kmeans_inertia_sql(_KM_K, _KM_ITERS, _DIM),
)
def kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster inertia of the distributed-trained model
    (operators/similarity.kmeans_inertia) — the elbow-method /
    model-selection metric, EXACT: integer-identity SSE (n·Σq² − (Σq)²
    per dimension, DECIMAL/HUGEINT staged) makes the float-order
    problem structurally absent; the oracle chains training,
    assignment, and the same staged arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    km = S.kmeans_fit_distributed(emb, "vec_id", "embedding", _DIM,
                                  k=_KM_K, iters=_KM_ITERS)
    cents: dict[int, list[float]] = {}
    for r in km.collect():  # bounded K×dim model
        cents.setdefault(r.cid, [0.0] * _DIM)[r.j] = r.c
    centroids = [cents[c] for c in sorted(cents)]
    return S.kmeans_inertia(emb, centroids, "vec_id", "embedding", _DIM)


class _BranchPool(ThreadPoolExecutor):
    """A thread pool whose tasks may not submit into it: with every
    worker waiting on a task queued behind it, the pool would deadlock."""

    _in_task = threading.local()

    def __init__(self, max_workers: int) -> None:
        super().__init__(max_workers=max_workers,
                         thread_name_prefix="mrf-branch",
                         initializer=self._mark_worker)

    def _mark_worker(self) -> None:
        self._in_task.active = True

    def submit(self, fn, /, *args, **kwargs):
        if getattr(self._in_task, "active", False):
            raise RuntimeError(
                "a _branch_pool task submitted into _branch_pool; run the "
                "nested branch inline (a full pool would deadlock)")
        return super().submit(fn, *args, **kwargs)


_BRANCH_POOL: _BranchPool | None = None
_BRANCH_POOL_LOCK = threading.Lock()


def _branch_pool() -> _BranchPool:
    """One process-lifetime 3-worker pool for overlapping INDEPENDENT
    driver-submitted job chains (kmeans_elbow's k-branches, curation
    v3's perplexity gate): pins 3 JVM threads ONCE instead of churning
    a fresh pinned thread per branch per invocation.  Created under a
    lock, so concurrent first callers share one pool."""
    global _BRANCH_POOL
    with _BRANCH_POOL_LOCK:
        if _BRANCH_POOL is None:
            _BRANCH_POOL = _BranchPool(max_workers=3)
        return _BRANCH_POOL


def _settle(fut: Future) -> None:
    """Cancel ``fut`` if it has not started, else wait for it to end, so
    no Spark job it launched runs on unobserved after its caller left."""
    if not fut.cancel():
        wait([fut])


def _kmeans_elbow_sql() -> str:
    branches = []
    for kk in (2, 4, 8):
        inert = S.kmeans_inertia_sql(kk, _KM_ITERS, _DIM)
        branches.append(f"""
    SELECT {kk} AS k, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           round(list_reduce(
                     list_prepend(0.0,
                         list_sort(list({{'c': cid,
                                          't': CAST(n AS DOUBLE) * inertia}}))
                             .apply(s -> s.t)),
                     (acc, x) -> acc + x)
                 / CAST(SUM(n) AS DOUBLE), 9) AS mse
    FROM ({inert})""")
    return " UNION ALL ".join(branches)


@query("kmeans_elbow", oracle=_kmeans_elbow_sql())
def kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ELBOW sweep — total mean-squared distance to the assigned
    cluster mean at k = 2, 4, 8 (distributed training + exact inertia
    per point, operators/similarity.kmeans_fit_distributed /
    kmeans_inertia): the standard k-selection curve, every value
    engine-exact (integer-staged SSE, sorted fold over the bounded
    cluster relation, 9-decimal round).  The oracle unions three full
    train→assign→inertia chains.

    The three k-branches are INDEPENDENT driver-loop chains (each fit
    is iters+1 sequential bounded collects), so they run from a small
    thread pool — Spark schedules concurrent jobs FIFO and the next
    branch's tasks back-fill executors the current branch's model-sized
    aggregates leave idle (the per-job scheduling floor overlaps
    instead of summing).  Every branch's arithmetic is exact-integer
    and branch-local, so the output is bit-identical to the sequential
    loop; the union order stays the (2, 4, 8) code order."""
    emb = load_table(spark, sf_dir, "embeddings")
    # ONE seed scan serves all three branches: the init ordering is total
    # and k-independent, so the k=2/4 seed sets are prefixes of the k=8
    # list (kmeans_seed_vectors docstring) — replaces three identical
    # limit-k corpus scans with one limit-8 collect, bit-identically.
    seeds8 = S.kmeans_seed_vectors(emb, "vec_id", "embedding", k=8)

    def branch(kk: int) -> DataFrame:
        km = S.kmeans_fit_distributed(emb, "vec_id", "embedding", _DIM,
                                      k=kk, iters=_KM_ITERS,
                                      seed_vectors=seeds8)
        cents: dict[int, list[float]] = {}
        for r in km.collect():  # bounded K×dim model
            cents.setdefault(r.cid, [0.0] * _DIM)[r.j] = r.c
        centroids = [cents[c] for c in sorted(cents)]
        inert = S.kmeans_inertia(emb, centroids, "vec_id", "embedding",
                                 _DIM)
        pairs = F.array_sort(F.collect_list(F.struct(
            "cid", (F.col("n").cast("double") * F.col("inertia"))
            .alias("t"))))
        s = F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x["t"])
        return inert.agg(
            F.lit(kk).alias("k"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n").alias("n_vectors"),
            F.round(s / F.sum("n").cast("double"), 9).alias("mse"),
        )

    # MODULE-LEVEL pool (r14 ADVICE): under pinned-thread mode each plain
    # Python thread pins one JVM thread for its lifetime, so a fresh
    # 3-thread pool per invocation churned/leaked JVM threads across
    # repeated calls.  The advice's alternatives: inheritable_thread_target
    # (measured here: +1-1.5 s per invocation — its per-call py4j
    # connection teardown) or ONE reusable pool whose 3 threads pin 3 JVM
    # threads once for the process — chosen.  Branches set no job
    # groups/descriptions, so no thread-local inheritance is needed.
    outs = list(_branch_pool().map(branch, (2, 4, 8)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# -- PCA family (round 13 session 3): exact scatter matrix + unrolled -------
# power iteration — the dimensionality-reduction step embedding-dedup
# pipelines (SemDeDup-style) run before clustering.  Fixed iteration
# count = deterministic fixed-point semantics (the pagerank convention):
# on a flat spectrum the 8-step vector is the CONTRACT, not an
# approximation claim; the planted-direction tests prove statistical
# recovery when a dominant direction exists.
_PCA_COMPS = 2
_PCA_ITERS = 8


def _pca_fit_cached(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pca_power_fit(emb, "vec_id", "embedding", _DIM,
                           n_components=_PCA_COMPS, iters=_PCA_ITERS)


@query(
    "pca_components",
    oracle=S.pca_sql(_DIM, _PCA_COMPS, _PCA_ITERS),
)
def pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-component loadings of the embedding corpus —
    distributed PCA via ONE exact-integer moment pass (the scatter
    matrix M = n·G − S·Sᵀ over 2^20-quantized vectors is exact under
    any partitioning) + fixed-unroll power iteration with deflation on
    the bounded dim×dim model (operators/similarity.pca_power_fit).
    Every arithmetic step is order-pinned (left-associated matvec /
    norm / Rayleigh / deflation chains), so the DuckDB mirror unrolls
    to the same doubles bitwise — the iterative-spectral analog of the
    kmeans trainer story."""
    comps, lams, tr, n = _pca_fit_cached(spark, sf_dir)
    rows = [(c, j, comps[c][j])
            for c in range(_PCA_COMPS) for j in range(_DIM)]
    return spark.createDataFrame(
        rows, "component int, j int, loading double")


@query(
    "pca_variance_explained",
    oracle=S.pca_variance_sql(_DIM, _PCA_COMPS, _PCA_ITERS),
)
def pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rayleigh-quotient eigenvalue and variance share per component
    (λ/trace of the exact scatter matrix) — the scree summary a
    dimensionality-reduction decision reads; each share is one
    terminal IEEE division off the same unrolled chain."""
    comps, lams, tr, n = _pca_fit_cached(spark, sf_dir)
    rows = [(c, lams[c], lams[c] / tr) for c in range(_PCA_COMPS)]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, var_share double")


@query(
    "embedding_pca_scores",
    oracle=S.pca_project_sql(_DIM, _PCA_COMPS, _PCA_ITERS),
)
def embedding_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector projected onto the fitted components — the reduced
    (pc1, pc2) representation downstream semantic dedup / clustering
    consumes.  Fit is the bounded-model power iteration; projection is
    one corpus scan of left-associated dot products (zip_with +
    aggregate fold, per-row bounded — the accepted embedding-verify
    HOF shape); the oracle chains fit and projection into one
    statement."""
    comps, lams, tr, n = _pca_fit_cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pca_power_project(emb, comps, "vec_id", "embedding")


@query(
    "embedding_pca_residuals",
    oracle=S.pca_residual_sql(_DIM, _PCA_COMPS, _PCA_ITERS),
)
def embedding_pca_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA OUTLIER scores: per-vector residual energy outside the
    fitted top-2 subspace, ‖x−mean‖² − Σ(proj_k)² — the off-manifold
    anomaly gate (corrupt decodes / wrong-modality rows) a curation
    pipeline runs before embedding dedup.  ONE moment pass feeds both
    the fit and the exact mean (moments= reuse); the scoring scan is
    per-row bounded folds with pinned order, so the oracle — which
    re-derives mean AND components inside one statement — matches
    bitwise (operators/similarity.pca_residual_scores)."""
    emb = load_table(spark, sf_dir, "embeddings")
    moments = S._pca_moments(emb, "vec_id", "embedding", _DIM)
    comps, lams, tr, n = S.pca_power_fit(
        emb, "vec_id", "embedding", _DIM,
        n_components=_PCA_COMPS, iters=_PCA_ITERS, moments=moments)
    means = S.pca_means(moments)
    return S.pca_residual_scores(emb, comps, means, "vec_id", "embedding")


# -- semi-supervised label propagation (round 13 session 3) ------------------
_LP_EDGES_SQL = f"""WITH sig AS (
        SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents
    )
    SELECT a.doc_id AS s, b.doc_id AS t
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3"""
_LP_SEEDS_SQL = ("SELECT doc_id AS u, lang AS lab FROM documents "
                 "WHERE doc_id % 3 != 0")


@query(
    "label_prop_neardup",
    oracle=f"""
    WITH lp AS ({G2.label_propagation_sql(_LP_EDGES_SQL, _LP_SEEDS_SQL, 3)})
    SELECT lp.node AS doc_id, lp.label AS pred_lang, d.lang AS true_lang
    FROM lp JOIN documents d ON d.doc_id = lp.node
    WHERE lp.label IS NOT NULL
    """,
)
def label_prop_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trusted labels spread across the NEAR-DUP graph — semi-supervised
    label propagation (operators/graph.label_propagation: hard-clamped
    seeds, synchronous mode updates, deterministic min-label ties, 3
    rounds) over the SimHash hamming ≤ 3 pair graph, seeding lang for
    doc_id % 3 != 0: near-duplicates of labeled documents inherit the
    label without a classifier (the label-transfer step a curation
    pipeline runs before training a quality gate; the true lang rides
    along so recovery is auditable).  Edges via the pigeonhole-blocked
    factored pair set (provably complete); the oracle brute-forces
    pairs and unrolls the propagation — integer counts and struct-min
    ties make the labeling engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs_factored(
        d, "doc_id", "text", bits=60, max_hamming=3, blocks="auto"
    ).select("id_a", "id_b")
    seeds = (d.where(F.col("doc_id") % 3 != 0)
             .select(F.col("doc_id").alias("node"),
                     F.col("lang").alias("label")))
    lp = G2.label_propagation(pairs, seeds, "id_a", "id_b",
                              "node", "label", n_iter=3)
    return (lp.where(F.col("label").isNotNull())
            .join(d.select(F.col("doc_id"), F.col("lang")),
                  lp.node == F.col("doc_id"))
            .select("doc_id", F.col("label").alias("pred_lang"),
                    F.col("lang").alias("true_lang")))


@query(
    "benford_totalprice_audit",
    oracle=Q.benford_audit_sql("orders", "o_totalprice"),
)
def benford_totalprice_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order totals
    (operators/quality.benford_audit) — the fabricated-data screen: per
    digit 1-9, observed count vs the log10(1+1/d)-expected count and
    the chi-square contribution.  The synthetic fixture is NOT
    Benford-distributed, which the audit reports loudly (large chi2
    terms) — exactly its job.  Shares are compile-time literals (no
    runtime transcendentals); the leading digit comes from the integer
    cents' string form, so both engines agree bitwise with no rounding
    discipline."""
    o = load_table(spark, sf_dir, "orders")
    return Q.benford_audit(o, "o_totalprice")


@query(
    "readability_by_lang",
    oracle=T.readability_sql("documents", "text", ("lang",)),
)
def readability_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per language over pooled exact
    integer counts (operators/text.readability_by_group) — the
    complexity screen a curriculum/quality gate reads next to the
    Gopher heuristics.  The synthetic corpus has no sentence
    punctuation, so the per-doc sentence count floors at 1 (documented
    operator behavior); chars/words still discriminate.  Counts are
    exact integers; the ARI formula is three single IEEE ops off
    literal coefficients — bitwise with no rounding discipline."""
    d = load_table(spark, sf_dir, "documents")
    return T.readability_by_group(d, "text", ("lang",))


_CT_TOPN = 5


def _cluster_topics_sql() -> str:
    km = S.kmeans_sql(_KM_K, _KM_ITERS, _DIM)
    dist = " + ".join(
        f"(x.xd[{j}] - c.c[{j}]) * (x.xd[{j}] - c.c[{j}])"
        for j in range(1, _DIM + 1))
    return f"""
    WITH km AS ({km}),
    cents AS (SELECT cid, list(c ORDER BY j) AS c FROM km GROUP BY cid),
    xq2 AS (
        SELECT vec_id,
               list_transform(embedding,
                   v -> floor(CAST(v AS DOUBLE)*1048576.0+0.5)/1048576.0)
                   AS xd
        FROM embeddings
    ),
    a AS (
        SELECT x.vec_id, (MIN({{'d': {dist}, 'c': c.cid}})).c AS cid
        FROM xq2 x CROSS JOIN cents c GROUP BY x.vec_id
    ),
    toks AS (
        SELECT a.cid, unnest(string_split(d.text, ' ')) AS tok
        FROM a JOIN documents d ON d.doc_id = a.vec_id
    ),
    tf AS (SELECT cid, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT tok, COUNT(*) AS dfc FROM tf GROUP BY 1),
    ncl AS (SELECT CAST(COUNT(DISTINCT cid) AS DOUBLE) AS nc FROM a),
    scored AS (
        SELECT tf.cid, tf.tok, tf.tf,
               round(CAST(tf.tf AS DOUBLE)
                     * round(ln((1.0 + ncl.nc)
                                / (1.0 + CAST(dfc.dfc AS DOUBLE))), 9),
                     9) AS score
        FROM tf JOIN dfc USING (tok), ncl
    ),
    ranked AS (
        SELECT cid, tok, tf, score,
               ROW_NUMBER() OVER (PARTITION BY cid
                                  ORDER BY score DESC, tok) AS rnk
        FROM scored
    )
    SELECT cid, CAST(rnk AS INT) AS rank, tok AS term,
           CAST(tf AS BIGINT) AS tf, score
    FROM ranked WHERE rnk <= {_CT_TOPN}
    """


@query("kmeans_cluster_topics", oracle=_cluster_topics_sql())
def kmeans_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-AND-DESCRIBE: top-5 distinctive terms per embedding
    cluster by cluster-level TF-IDF (the BERTopic-style c-TF-IDF idea:
    each cluster's pooled text is one pseudo-document; idf is over
    clusters) — the human-readable audit of what a semantic partition
    actually contains, run after kmeans curation sharding.  Pipeline:
    distributed Lloyd's fit → exact assignment (kmeans_assign, the
    kmeans_sql arithmetic) → doc join on vec_id=doc_id → per-cluster
    term counts → idf over non-empty clusters → top-5 by (score DESC,
    term) row_number.  The 9-decimal-rounded ln is the house BM25
    discipline; everything else is exact integers, so the oracle
    chains train→assign→score→rank into one statement."""
    emb = load_table(spark, sf_dir, "embeddings")
    km = S.kmeans_fit_distributed(emb, "vec_id", "embedding", _DIM,
                                  k=_KM_K, iters=_KM_ITERS)
    cents: dict[int, list[float]] = {}
    for r in km.collect():  # bounded K×dim model
        cents.setdefault(r.cid, [0.0] * _DIM)[r.j] = r.c
    centroids = [cents[c] for c in sorted(cents)]
    a = S.kmeans_assign(emb, centroids, "vec_id", "embedding")
    d = load_table(spark, sf_dir, "documents")
    toks = (a.join(d, a.vec_id == d.doc_id)
            .select("cid", F.explode(F.split("text", " ")).alias("tok")))
    tf = toks.groupBy("cid", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"))
    dfc = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("dfc"))
    ncl = a.agg(F.countDistinct("cid").cast("double").alias("__nc"))
    scored = (
        tf.join(dfc, "tok").crossJoin(F.broadcast(ncl))
        .select(
            "cid", "tok", "tf",
            F.round(F.col("tf").cast("double")
                    * F.round(F.log((F.lit(1.0) + F.col("__nc"))
                                    / (F.lit(1.0)
                                       + F.col("dfc").cast("double"))), 9),
                    9).alias("score"))
    )
    from pyspark.sql import Window as W
    rnk = F.row_number().over(
        W.partitionBy("cid").orderBy(F.col("score").desc(), F.col("tok")))
    return (scored.withColumn("rank", rnk)
            .where(F.col("rank") <= _CT_TOPN)
            .select("cid", F.col("rank").cast("int").alias("rank"),
                    F.col("tok").alias("term"), "tf", "score"))


@query(
    "doc_novelty_scores",
    oracle=f"""
    WITH {_SH_CTE},
    first_ AS (SELECT h, MIN(doc_id) AS fst FROM sh GROUP BY 1),
    per_doc AS (
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN f.fst = sh.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM sh JOIN first_ f USING (h) GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_novel, 0) AS n_novel,
           CASE WHEN COALESCE(p.n_shingles, 0) > 0
                THEN CAST(COALESCE(p.n_novel, 0) AS DOUBLE)
                     / CAST(p.n_shingles AS DOUBLE)
                END AS novelty
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty in corpus order (operators/text.
    novelty_scores): the share of each doc's distinct 3-gram shingles
    first seen IN that doc — the per-doc freshness curve next to the
    corpus-level Heaps vocab-growth row; a crawl/curriculum gate drops
    late recombination-heavy docs.  Inverted-index shape (one shingle
    pass, one min-agg, one skinny hash join), exact integer counts,
    one terminal division."""
    d = load_table(spark, sf_dir, "documents")
    return T.novelty_scores(d, "doc_id", "text", n=_N)


def _ann_eval_oracle() -> str:
    brute = f"""SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {S.cosine_sql('q.embedding', 'c.embedding', _DIM)} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 5
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {_TOPK}"""
    return S.retrieval_eval_sql(_srp_topk_oracle(), brute, _TOPK)


@query("ann_eval_lsh", oracle=_ann_eval_oracle())
def ann_eval_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN EVAL HARNESS as an operator
    (operators/similarity.retrieval_eval): recall@10, MRR, and nDCG@10
    of the SRP-LSH top-k against the exact brute-force ground truth,
    per query — the quality loop an index-parameter sweep runs
    distributed instead of driver-side.  Both pipelines and the
    metrics are deterministic (md5-parity hyperplanes, (score, id)
    tie-breaks, 9-decimal-rounded DCG terms in sorted single-float
    folds), so the composed eval sits under one hash-exact oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 5")
    got = S.srp_lsh_topk(q, e, "vec_id", "embedding", _DIM, _TOPK,
                         n_planes=6, n_tables=8)
    truth = S.brute_force_topk(q, e, "vec_id", "embedding", _DIM, _TOPK)
    return S.retrieval_eval(got, truth, _TOPK)


@query(
    "pca_incremental_components",
    oracle=S.pca_sql(_DIM, _PCA_COMPS, _PCA_ITERS),
)
def pca_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL PCA: the corpus arrives as two batches (vec_id
    parity), each contributes a bounded mergeable moment relation
    (operators/similarity.pca_moment_relation), the relations merge by
    pure additive union (pca_moment_merge — moments are a monoid), and
    the fit runs on the merged model.  Because integer sums are
    associative and commutative, the merged moments equal the
    whole-corpus moments EXACTLY, so this query shares
    pca_components' UNCHANGED whole-corpus oracle — the incremental
    path is proven bitwise-equal to the batch path by the gate itself
    (the incremental-aggregate-maintenance story applied to the
    spectral model: a daily embedding batch updates the trained PCA
    without rescanning history)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    merged = S.pca_moment_merge(
        S.pca_moment_relation(a, "vec_id", "embedding", _DIM),
        S.pca_moment_relation(b, "vec_id", "embedding", _DIM))
    moments = S.pca_moments_from_relation(merged, _DIM)
    comps, lams, tr, n = S.pca_power_fit(
        emb, "vec_id", "embedding", _DIM,
        n_components=_PCA_COMPS, iters=_PCA_ITERS, moments=moments)
    rows = [(c, j, comps[c][j])
            for c in range(_PCA_COMPS) for j in range(_DIM)]
    return spark.createDataFrame(
        rows, "component int, j int, loading double")


_LP_K = 16
_LP_PAIRS_W_SQL = f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.s, b.s)) AS hamming
    FROM (SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents) a
    JOIN (SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents) b
      ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3"""


def _lp_sparse_oracle() -> str:
    sparse = G2.sparsify_topk_edges_sql(
        _LP_PAIRS_W_SQL, "id_a", "id_b", "hamming", k=_LP_K)
    edges = f"SELECT id_a AS s, id_b AS t FROM ({sparse})"
    return f"""
    WITH lp AS ({G2.label_propagation_sql(edges, _LP_SEEDS_SQL, 3)})
    SELECT lp.node AS doc_id, lp.label AS pred_lang, d.lang AS true_lang
    FROM lp JOIN documents d ON d.doc_id = lp.node
    WHERE lp.label IS NOT NULL
    """


@query("label_prop_neardup_sparse", oracle=_lp_sparse_oracle())
def label_prop_neardup_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation over the k-NN-SPARSIFIED near-dup graph — the
    SCALE PATH of label_prop_neardup: the raw hamming≤3 similarity
    graph on a near-dup-rich corpus carries avg degree ~760 (measured,
    SCALE.md round-13 s4), so every propagation round pays ~760·n edge
    traffic; sparsify_topk_edges caps it at k·n (k=16) by keeping each
    node's k lowest-hamming neighbors (union rule, deterministic
    (weight, id) ranking) — propagation becomes linear in n by
    construction while near-dup label transfer keeps the edges that
    matter (the lowest-distance ones).  The oracle mirrors the
    sparsifier's ROW_NUMBER selection and unrolls the same
    propagation."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs_factored(
        d, "doc_id", "text", bits=60, max_hamming=3, blocks="auto")
    sparse = G2.sparsify_topk_edges(pairs, "id_a", "id_b", "hamming",
                                    k=_LP_K)
    seeds = (d.where(F.col("doc_id") % 3 != 0)
             .select(F.col("doc_id").alias("node"),
                     F.col("lang").alias("label")))
    lp = G2.label_propagation(sparse.select("id_a", "id_b"), seeds,
                              "id_a", "id_b", "node", "label", n_iter=3)
    return (lp.where(F.col("label").isNotNull())
            .join(d.select(F.col("doc_id"), F.col("lang")),
                  lp.node == F.col("doc_id"))
            .select("doc_id", F.col("label").alias("pred_lang"),
                    F.col("lang").alias("true_lang")))


_V4_RESID_T = 0.998   # PCA off-manifold gate (~top decile trimmed)
_V4_NOV_T = 0.45      # novelty gate (~lowest quartile recombinations)


def _curation_v4_oracle() -> str:
    resid = S.pca_residual_sql(_DIM, _PCA_COMPS, _PCA_ITERS)
    return f"""
    WITH resid_ AS ({resid}),
    {_SH_CTE},
    first_ AS (SELECT h, MIN(doc_id) AS fst FROM sh GROUP BY 1),
    nov_ AS (
        SELECT sh.doc_id,
               CAST(SUM(CASE WHEN f.fst = sh.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS novelty
        FROM sh JOIN first_ f USING (h) GROUP BY 1
    ),
    gated AS (
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d
        JOIN resid_ r ON r.vec_id = d.doc_id
        JOIN nov_ v ON v.doc_id = d.doc_id
        WHERE r.resid <= {_V4_RESID_T!r} AND v.novelty >= {_V4_NOV_T!r}
    ),
    kept AS ({SM.temperature_mix_sql('gated', 'source', 'doc_id',
                                     weight_expr='n_chars')})
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM kept GROUP BY 1
    """


@query("pipeline_curation_v4", oracle=_curation_v4_oracle())
def pipeline_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-AWARE curation pipeline — the round-13 session-4
    families composed into ONE Catalyst plan: PCA off-manifold gate
    (resid ≤ 0.998 under the fitted top-2 subspace — corrupt/wrong-
    modality rows out) ∧ novelty gate (first-occurrence shingle share
    ≥ 0.45 — recombination-heavy docs out; sub-n-token docs' NULL
    novelty fails the predicate in both engines) → temperature mix
    (τ = 0.5 by source over surviving char mass).  The text side and
    the embedding side join on doc_id = vec_id — the cross-modal gate
    a multimodal corpus runs.  The oracle chains the three stage
    mirrors; per-source kept (rows, chars) is the check."""
    emb = load_table(spark, sf_dir, "embeddings")
    moments = S._pca_moments(emb, "vec_id", "embedding", _DIM)
    comps, _l, _t, _n = S.pca_power_fit(
        emb, "vec_id", "embedding", _DIM,
        n_components=_PCA_COMPS, iters=_PCA_ITERS, moments=moments)
    resid = S.pca_residual_scores(emb, comps, S.pca_means(moments),
                                  "vec_id", "embedding")
    d = load_table(spark, sf_dir, "documents")
    nov = T.novelty_scores(d, "doc_id", "text", n=_N)
    gated = (
        d.join(resid.where(F.col("resid") <= _V4_RESID_T),
               d.doc_id == resid.vec_id)
        .join(nov.where(F.col("novelty") >= _V4_NOV_T)
              .select(F.col("doc_id").alias("__nid")),
              F.col("doc_id") == F.col("__nid"))
        .select("doc_id", "source", "n_chars")
        # SHARED-STAGE BOUNDARY (r14, the v5/conformal recipe):
        # temperature_mix reads its input TWICE (mass aggregate + keep
        # filter), so without a cut the PCA-residual scan and the
        # novelty shingle pipeline replay once per consumer lineage.
        # One lazy localCheckpoint of the narrow (doc_id, source,
        # n_chars) relation computes both gates exactly once.
        .localCheckpoint(eager=False)
    )
    kept = SM.temperature_mix(gated, "source", "doc_id", tau=0.5,
                              weight_col="n_chars")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"))


# ---------------------------------------------------------------------------
# Evaluation-statistics family (operators/evalstats.py): exact rank
# statistics without global sorts — the measure-the-gates layer.

from map_reduce_folds_spark.operators import evalstats as ES  # noqa: E402


@query(
    "roc_auc_doclen_en",
    oracle=ES.roc_auc_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=("source",)),
)
def roc_auc_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC per source: does document length
    discriminate English from non-English?  The evaluation primitive for
    every scalar gate the pipeline produces (quality scores, classifier
    margins, importance weights) — Mann-Whitney U over the
    distinct-score relation, partitioned-window cumulative (never a
    global sort; the `cum_below` bucket decomposition), doubled-integer
    numerator so score ties stay exact, ONE double division."""
    d = load_table(spark, sf_dir, "documents")
    return ES.roc_auc(
        d.withColumn("is_en", (F.col("lang") == "en").cast("int")),
        "n_chars", "is_en", keys=("source",))


_KAPPA_BASE_SQL = """
    WITH maj AS (
      SELECT source, lang AS pred FROM (
        SELECT source, lang,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY COUNT(*) DESC, lang ASC) AS rn
        FROM documents GROUP BY source, lang
      ) WHERE rn = 1
    ),
    rated AS (
      SELECT d.lang AS a, m.pred AS b
      FROM documents d JOIN maj m USING (source)
    )
"""


@query(
    "kappa_lang_majority",
    oracle=_KAPPA_BASE_SQL + """
    , conf AS (SELECT a, b, COUNT(*) AS c FROM rated GROUP BY a, b),
    ra AS (SELECT a AS l, SUM(c) AS ra FROM conf GROUP BY a),
    rb AS (SELECT b AS l, SUM(c) AS rb FROM conf GROUP BY b),
    pe AS (SELECT CAST(SUM(ra * rb) AS BIGINT) AS pe_n2
           FROM ra JOIN rb USING (l)),
    po AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
                      AS agree
           FROM conf)
    SELECT CASE WHEN n * n <> pe_n2 THEN
             CAST(n * agree - pe_n2 AS DOUBLE)
             / CAST(n * n - pe_n2 AS DOUBLE)
           END AS kappa, n, agree
    FROM po CROSS JOIN pe
    """,
)
def kappa_lang_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between each document's language and the
    majority-language baseline of its source (deterministic argmax:
    highest count, then lexicographically first lang) — the
    chance-corrected agreement floor any real lang-id model must beat.
    Majority vote is a per-source partitioned window over the tiny
    (source, lang) count relation; kappa is the n²-scaled integer
    identity with one double division (operators/evalstats.py)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy("source").orderBy(
        F.col("__c").desc(), F.col("lang").asc())
    maj = (counts.withColumn("__rn", F.row_number().over(w))
           .where(F.col("__rn") == 1)
           .select("source", F.col("lang").alias("pred")))
    rated = d.join(maj, "source").select("lang", "pred")
    return ES.cohens_kappa(rated, "lang", "pred")


@query(
    "chao1_vocab_by_source",
    oracle=ES.chao1_richness_sql(
        "SELECT source, tok FROM (SELECT source, "
        "UNNEST(string_split(text, ' ')) AS tok FROM documents) "
        "WHERE tok <> ''",
        "tok", keys=("source",)),
)
def chao1_vocab_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate and Good-Turing unseen
    probability mass per source — how much vocabulary a source still
    hides, the coverage planner for corpus sampling (a source whose
    f₁-driven unseen mass is high is under-crawled; one whose Chao1 ≈
    observed D is exhausted).  Frequency-of-frequencies fold over the
    per-source term counts: two map-side-combinable shuffles, integers
    until the two final divisions (Chao 1984 bias-corrected; Good
    1953)."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    return ES.chao1_richness(occ, "tok", keys=("source",))


@query(
    "calibration_doclen_en",
    oracle=ES.calibration_report_sql(
        "documents",
        "LEAST(n_chars, 1000) * 1000",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"),
)
def calibration_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact expected calibration error + Brier score of the naive
    length-based 'probability of English' (n_chars capped at 1000,
    scaled to micro-units) — the reliability audit any score must pass
    before the pipeline treats it as a probability.  The micro-unit
    identity makes both metrics single-division exact: ECE's numerator
    is Σ_b |Σp_µ − 10⁶·Σy|_b (one bigint), Brier's is Σ(p_µ − 10⁶·y)²
    (one bigint) — operators/evalstats.py:calibration_report."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        (F.least(F.col("n_chars"), F.lit(1000)) * 1000).alias("p_micro"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return ES.calibration_report(scored, "p_micro", "is_en")


@query(
    "mannwhitney_doclen_en",
    oracle=ES.mannwhitney_z_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=("source",)),
)
def mannwhitney_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney significance per source: is the
    English documents' length distribution shifted against the rest?
    The AUC machinery extended with the tie-correction variance
    (Σ t³−t over distinct scores) — AUC says how separable, z says
    whether the separation is more than noise at this sample size.
    Same no-global-sort cum_below shape; z is one mirrored double
    expression (operators/evalstats.py:mannwhitney_z)."""
    d = load_table(spark, sf_dir, "documents")
    return ES.mannwhitney_z(
        d.withColumn("is_en", (F.col("lang") == "en").cast("int")),
        "n_chars", "is_en", keys=("source",))


@query(
    "js_divergence_by_source",
    oracle=ES.js_divergence_by_group_sql(
        "SELECT source, tok FROM (SELECT source, "
        "UNNEST(string_split(text, ' ')) AS tok FROM documents) "
        "WHERE tok <> ''",
        "source", "tok"),
)
def js_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the whole corpus — the distributional drift/imbalance
    signature a corpus-mixing plan reads next to temperature_mix.  The
    absent-term remainder is closed-form (q·ln 2), so the per-source
    relation never expands past the input term counts; transcendental
    terms use the repo's sorted-fold + 9-decimal-round discipline
    (operators/evalstats.py:js_divergence_by_group)."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    return ES.js_divergence_by_group(occ, "source", "tok")


@query(
    "chi2_lang_source",
    oracle=ES.chi2_independence_sql("documents", "lang", "source"),
)
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test + Cramér's V between
    language and source — the association screen a corpus-composition
    audit runs (a high V means language is concentrated in specific
    sources, so per-source sampling will skew the language mix).  One
    confusion-matrix aggregation, margin folds of the tiny cell
    relation, sorted-fold rational sum
    (operators/evalstats.py:chi2_independence)."""
    d = load_table(spark, sf_dir, "documents")
    return ES.chi2_independence(d, "lang", "source")


@query(
    "g_test_lang_source",
    oracle=ES.g_test_independence_sql("documents", "lang", "source"),
)
def g_test_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-TEST (log-likelihood ratio) of language×source independence
    (operators/evalstats.g_test_independence) — chi2_lang_source's
    likelihood-scale twin, sturdier on small cells: G = 2·Σ O·ln(O·N/
    (R·C)) over the occupied sparse cells, rounded-ln sorted fold."""
    d = load_table(spark, sf_dir, "documents")
    return ES.g_test_independence(d, "lang", "source")


@query(
    "mi_lang_source",
    oracle=ES.mutual_information_sql("documents", "lang", "source"),
)
def mi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and normalized MI) between language and
    source — the dependence-strength companion of chi2_lang_source:
    how many nats of a document's language are already determined by
    knowing its source.  Cell-keyed and margin-keyed sorted folds,
    9-decimal round (operators/evalstats.py:mutual_information)."""
    d = load_table(spark, sf_dir, "documents")
    return ES.mutual_information(d, "lang", "source")


@query(
    "classification_report_lang",
    oracle=_KAPPA_BASE_SQL + ", "
    + ES.classification_report_sql("rated", "a", "b").strip().removeprefix(
        "WITH "),
)
def classification_report_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the source-majority language
    baseline against the true labels — the standard multi-class
    evaluation table, every metric a single exact integer division
    (F1 = 2·tp/(2·tp+fp+fn), never the harmonic mean of two rounded
    doubles).  Same rated relation as kappa_lang_majority; together
    they are the full agreement picture (chance-corrected scalar +
    per-class detail)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy("source").orderBy(
        F.col("__c").desc(), F.col("lang").asc())
    maj = (counts.withColumn("__rn", F.row_number().over(w))
           .where(F.col("__rn") == 1)
           .select("source", F.col("lang").alias("pred")))
    rated = d.join(maj, "source").select(
        F.col("lang").alias("truth"), "pred")
    return ES.classification_report(rated, "truth", "pred")


@query(
    "roc_auc_incremental",
    # the UNCHANGED batch oracle: the gate itself proves the merged
    # incremental moments finalize to bitwise the batch AUC (the
    # pca_incremental_components convention)
    oracle=ES.roc_auc_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=("source",)),
)
def roc_auc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact AUC: the corpus split into three disjoint
    ingest batches (doc_id mod 3), each reduced independently to its
    AUC moment relation (per-score pos/neg counts — an additive
    monoid), merged, and finalized.  Registered under roc_auc's
    UNCHANGED whole-corpus oracle, so the correctness gate itself
    proves incremental == batch bitwise — the shard-parallel /
    daily-ingest evaluation story (evalstats.auc_moment_relation /
    auc_moment_merge / auc_from_moments)."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "is_en", (F.col("lang") == "en").cast("int"))
    batches = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    moments = [ES.auc_moment_relation(b, "n_chars", "is_en", keys=("source",))
               for b in batches]
    merged = ES.auc_moment_merge(*moments)
    return ES.auc_from_moments(merged, keys=("source",))


_TRGM_PAT = "batch stream"


@query(
    "trigram_search_docs",
    oracle=T.trigram_search_sql(
        "documents", "text", _TRGM_PAT, select="doc_id, source, n_chars"),
)
def trigram_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring search through the character-trigram inverted
    index (the pg_trgm plan): intersect the pattern's trigram posting
    lists (lossless necessary-condition filter, capped at 8 grams) and
    verify only the candidates with a literal contains — the
    LIKE-'%…%'-at-100 TB answer, since a bare contains scan can never
    push down.  The oracle is the brute-force truth
    (operators/text.py:trigram_search)."""
    d = load_table(spark, sf_dir, "documents")
    return T.trigram_search(d, "doc_id", "text", _TRGM_PAT).select(
        "doc_id", "source", "n_chars")


def _holtwinters_oracle() -> str:
    from map_reduce_folds_spark.operators.windows import holtwinters_last_sql

    return holtwinters_last_sql(
        "events", "user_id", "ts", "value", period=4,
        tiebreak_expr="event_id", alpha_halves=2, beta_halves=2,
        gamma_halves=2, horizon=2)


@query("holtwinters_user_forecast", oracle=_holtwinters_oracle())
def holtwinters_user_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user HOLT-WINTERS additive smoothing (level + trend +
    4-slot seasonal, α = β = γ = 1/4) with a 2-step forecast — the
    seasonal member completing the EWMA → Holt family: a periodic
    signal (weekday cycles, batch-window load) makes Holt's trend
    oscillate; the seasonal slots absorb the cycle.  Zero-seeded
    seasonal contract, expanded trend + textually-duplicated level
    expression (operators/windows.holtwinters_last); the mirror's
    recursive CTE carries the seasonal LIST as fresh rows per step, so
    DuckDB's multi-float in-place list_reduce hazard cannot arise."""
    from map_reduce_folds_spark.operators.windows import holtwinters_last

    e = load_table(spark, sf_dir, "events")
    return holtwinters_last(e, "user_id", "ts", "value", period=4,
                            tiebreak_col="event_id", alpha_halves=2,
                            beta_halves=2, gamma_halves=2, horizon=2)


_NEYMAN_N = 1000


@query(
    "neyman_sample_sources",
    oracle=SM.neyman_sample_sql(
        "documents", "source", "n_chars", _NEYMAN_N, "doc_id",
        select="source, CAST(COUNT(*) AS BIGINT) AS n_picked, "
               "CAST(SUM(doc_id) AS BIGINT) AS sum_ids, "
               "CAST(SUM(n_chars) AS BIGINT) AS sum_chars")
    + " GROUP BY source",
)
def neyman_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample of the corpus (budget 1000,
    strata = source, variance column = n_chars): high-variance sources
    get proportionally more of the labeling/eval budget — the
    statistically-optimal version of per-source quotas.  Allocation
    weights are √(exact integer variance numerators), integer targets
    by floor + largest-remainder, rows drawn by the deterministic hash
    order; the oracle replays the identical allocation and draw
    (operators/sampling.py:neyman_sample).  Emitted as per-stratum
    (count, Σid, Σchars) so the sample membership itself is what the
    hash gate checks."""
    d = load_table(spark, sf_dir, "documents")
    s = SM.neyman_sample(d, "source", "n_chars", _NEYMAN_N, "doc_id")
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_picked"),
        F.sum("doc_id").cast("bigint").alias("sum_ids"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"))


_BLOCKLIST = ["batch stream", "spark window", "scan merge part"]


@query(
    "blocklist_scan_docs",
    oracle=T.trigram_search_many_sql(
        "documents", "doc_id", "text", _BLOCKLIST),
)
def blocklist_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist scan: every (banned phrase, document) hit across a
    3-phrase list in ONE distributed plan — pattern trigrams broadcast
    against the shared posting index, candidates bounded by posting-
    list mass (never |docs|·|patterns|), literal contains verify on
    candidates only.  The shape a canary/contamination/ban-phrase
    sweep takes at 100 TB (operators/text.py:trigram_search_many);
    oracle is the brute-force VALUES-join truth."""
    d = load_table(spark, sf_dir, "documents")
    pats = spark.createDataFrame([(p,) for p in _BLOCKLIST], "pattern string")
    return T.trigram_search_many(d, "doc_id", "text", pats).select(
        "pattern", F.col("doc_id").alias("id"))


_BOOT_B = 200      # bootstrap replicates
_BOOT_A2 = 25      # per-TAIL permille: 25/1000 per tail -> 95% CI


@query(
    "bootstrap_doclen_ci",
    oracle=SM.poisson_bootstrap_mean_ci_sql(
        "documents", "n_chars", "doc_id", keys=["source"],
        n_boot=_BOOT_B, tail_permille=_BOOT_A2),
)
def bootstrap_doclen_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% POISSON-BOOTSTRAP CI for mean document length per source
    (operators/sampling.poisson_bootstrap_mean_ci) — the streaming
    bootstrap used for inference over corpora too big to resample
    n-of-n: each of 200 replicates weighs every row by a DETERMINISTIC
    inverse-CDF Poisson(1) draw from hash60(salt‖b‖doc_id) with pure
    integer threshold comparisons, so the whole CI is one scan + one
    (source, replicate) aggregation and is hash-exact against the
    mirrored oracle.  The percentile bounds are integer-indexed order
    statistics of the 200 sorted replicate means."""
    d = load_table(spark, sf_dir, "documents")
    return SM.poisson_bootstrap_mean_ci(
        d, "n_chars", "doc_id", keys=["source"],
        n_boot=_BOOT_B, tail_permille=_BOOT_A2)


@query(
    "anova_doclen_source",
    oracle=ES.anova_f_sql("documents", "n_chars", "source"),
)
def anova_doclen_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA across all sources (operators/evalstats.anova_f):
    the k-sample mean-shift test over document length — the screening
    statistic behind "is any source's length distribution off?" before
    drilling into pairwise Mann-Whitney.  Exact per-source integer
    moments; the between-group term folds in source-sorted order."""
    d = load_table(spark, sf_dir, "documents")
    return ES.anova_f(d, "n_chars", "source")


@query(
    "bootstrap_incremental_ci",
    oracle=SM.poisson_bootstrap_mean_ci_sql(
        "documents", "n_chars", "doc_id", keys=["source"],
        n_boot=_BOOT_B, tail_permille=_BOOT_A2),
)
def bootstrap_incremental_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL bootstrap: the corpus arrives as two batches (doc_id
    parity), each contributes a mergeable (source, replicate) weighted-
    sum relation (operators/sampling.poisson_bootstrap_moments), the
    relations merge by pure additive union, and the CI finishes on the
    merged moments.  Because weights are a pure function of the row id
    and integer sums are a monoid, the merged CI is BITWISE the
    whole-corpus CI — this query shares bootstrap_doclen_ci's UNCHANGED
    oracle, so the gate itself proves incremental == batch (a daily
    batch updates the corpus-mean CI without rescanning history)."""
    d = load_table(spark, sf_dir, "documents")
    a = d.where(F.col("doc_id") % 2 == 0)
    b = d.where(F.col("doc_id") % 2 == 1)
    kw = dict(keys=["source"], n_boot=_BOOT_B)
    merged = SM.poisson_bootstrap_merge(
        SM.poisson_bootstrap_moments(a, "n_chars", "doc_id", **kw),
        SM.poisson_bootstrap_moments(b, "n_chars", "doc_id", **kw))
    return SM.poisson_bootstrap_ci_from_moments(
        merged, keys=["source"], tail_permille=_BOOT_A2)


@query(
    "bootstrap_stratified_doclen_ci",
    oracle=SM.poisson_bootstrap_stratified_mean_ci_sql(
        "documents", "n_chars", "doc_id", "source",
        n_boot=_BOOT_B, tail_permille=_BOOT_A2),
)
def bootstrap_stratified_doclen_ci(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """95% STRATIFIED bootstrap CI for the CORPUS mean document length
    with per-source resampling under fixed population weights N_h/N
    (operators/sampling.poisson_bootstrap_stratified_mean_ci) — the
    design-correct interval for a quota/stratified-sampled corpus: a
    plain bootstrap lets source masses fluctuate per replicate,
    re-inflating the between-source variance the design removed.  Same
    deterministic integer-threshold Poisson draws; replicate estimates
    combine per-source reweighted means in SOURCE-SORTED fixed
    parenthesization — hash-exact against the mirrored fold."""
    d = load_table(spark, sf_dir, "documents")
    return SM.poisson_bootstrap_stratified_mean_ci(
        d, "n_chars", "doc_id", "source",
        n_boot=_BOOT_B, tail_permille=_BOOT_A2)


_LSS_W = {"train": 0.8, "val": 0.1, "test": 0.1}


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE
    sig AS (SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM documents),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component
             FROM reach GROUP BY node),
    lab AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT {SM.hash_split_sql('cluster', _LSS_W)} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM lab GROUP BY 1
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: hash-split by NEAR-DUP CLUSTER
    instead of by document, so a near-duplicate of a training doc can
    never land in val/test (the contamination mode Lee et al. 2022
    measure: eval-set near-dups of training data inflate benchmarks —
    a per-doc split CANNOT prevent it, because the two copies hash
    independently).  Composition: SimHash near-dup graph → distributed
    connected components (the dedup_cc_clusters machinery) → singleton
    docs keep their own id as cluster → the standard deterministic
    hash_split applied to the CLUSTER id — every cluster lands whole in
    exactly one split by construction.  Per-split doc/cluster/char
    counts as the check relation.

    SIGNATURE WIDTH IS A SCALE PARAMETER, measured this round: at 1M
    docs a 32-bit simhash birthday-saturates — random collisions chain
    99%% of the corpus into one component (train=494881/500k, val/test
    starved) and the bucket blow-up costs 6× the wall (121 s vs 21 s at
    the 100× slice).  60 bits (every informative bit of the 60-bit
    token hash) keeps components honest at every measured scale;
    SCALE_BENCH_r13 session-6 records the pair."""
    d = load_table(spark, sf_dir, "documents")
    comp = D.simhash_components(d, "doc_id", "text", bits=60,
                                max_hamming=3, blocks="auto")
    lab = (
        d.join(comp.select(F.col("node").alias("doc_id"), "component"),
               "doc_id", "left")
        .select("doc_id", "n_chars",
                F.coalesce(F.col("component"), F.col("doc_id"))
                .alias("cluster")))
    s = SM.hash_split(lab, "cluster", weights=_LSS_W)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("chars"))


_MRL_DIM = 16      # truncation prefix (Matryoshka dim)


def _mrl_eval_oracle() -> str:
    def brute(dim: int) -> str:
        return f"""SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {S.cosine_sql('q.embedding', 'c.embedding', dim)} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 5
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) <= {_TOPK}"""

    return S.retrieval_eval_sql(brute(_MRL_DIM), brute(_DIM), _TOPK)


@query("ann_eval_matryoshka", oracle=_mrl_eval_oracle())
def ann_eval_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION EVAL (Kusupati et al. 2022 — public
    literature): recall@10 / MRR / nDCG of retrieval over the FIRST 16
    embedding dimensions against the full-64-dim exact ground truth —
    the measurement behind the shorten-the-vectors storage/latency
    trade every MRL-style embedding deployment makes (4× smaller index;
    how much quality survives?).  Truncation = F.slice on the Spark
    side and a 16-term dot chain in the oracle (dot_sql's explicit
    index expansion IS prefix truncation); both sides reuse the exact
    brute-force + retrieval_eval machinery, so the whole trade-off
    curve point sits under one hash-exact oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    e16 = e.select("vec_id",
                   F.slice("embedding", 1, _MRL_DIM).alias("embedding"))
    got = S.brute_force_topk(e16.filter("vec_id < 5"), e16, "vec_id",
                             "embedding", _MRL_DIM, _TOPK)
    truth = S.brute_force_topk(e.filter("vec_id < 5"), e, "vec_id",
                               "embedding", _DIM, _TOPK)
    return S.retrieval_eval(got, truth, _TOPK)


def _rrf_multi_oracle() -> str:
    from map_reduce_folds_spark.operators.similarity import rrf_fuse_sql

    def brute(dim: int) -> str:
        return f"""SELECT query_id, doc_id, score FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               {S.cosine_sql('q.embedding', 'c.embedding', dim)} AS score
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 5
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id)
        <= {_RRF_CAND}"""

    fused = rrf_fuse_sql([brute(_DIM), brute(_MRL_DIM)], k0=_RRF_K0)
    return f"""
    WITH fused AS ({fused})
    SELECT query_id, doc_id, rrf,
           CAST(COALESCE(rank_0, 0) AS BIGINT) AS rank_full,
           CAST(COALESCE(rank_1, 0) AS BIGINT) AS rank_m16
    FROM fused
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) <= {_RRF_TOPK}
    """


@query("hybrid_rrf_multiquery", oracle=_rrf_multi_oracle())
def hybrid_rrf_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion over FIVE queries at once (vec_id < 5, the ANN-row
    convention) — the multi-query shape hybrid_search_rrf's single
    fixed query never exercises: every rank window genuinely
    PARTITIONS BY query_id (plan-pinned in tests/test_plans.py), so
    the fusion is one bounded |Q|·k-row join per ranker, the shape a
    production retrieval batch runs.  The two rankers are the
    multi-resolution pair every Matryoshka deployment fuses: exact
    full-dim cosine top-50 ⊕ truncated 16-dim cosine top-50
    (operators/similarity.rrf_fuse; Cormack et al. SIGIR 2009 +
    Kusupati et al. 2022).  Per query: top-20 by the fused
    ``Σ 1/(60+rank)`` — bitwise-reproducible because only RANKS cross
    the ranker boundary and contributions add in fixed full→truncated
    order."""
    from map_reduce_folds_spark.operators.relational import topk_per_group

    e = load_table(spark, sf_dir, "embeddings")
    full = (S.brute_force_topk(e.filter("vec_id < 5"), e, "vec_id",
                               "embedding", _DIM, _RRF_CAND)
            .select("query_id", F.col("neighbor_id").alias("doc_id"),
                    F.col("cos_sim").alias("score")))
    e16 = e.select("vec_id",
                   F.slice("embedding", 1, _MRL_DIM).alias("embedding"))
    m16 = (S.brute_force_topk(e16.filter("vec_id < 5"), e16, "vec_id",
                              "embedding", _MRL_DIM, _RRF_CAND)
           .select("query_id", F.col("neighbor_id").alias("doc_id"),
                   F.col("cos_sim").alias("score")))
    fused = S.rrf_fuse([full, m16], k0=_RRF_K0)
    out = fused.select(
        "query_id", "doc_id", "rrf",
        F.coalesce(F.col("rank_0"), F.lit(0)).cast("bigint")
        .alias("rank_full"),
        F.coalesce(F.col("rank_1"), F.lit(0)).cast("bigint")
        .alias("rank_m16"))
    return topk_per_group(out, ["query_id"],
                          [F.col("rrf").desc(), F.col("doc_id")],
                          _RRF_TOPK)


@query(
    "trimmed_doclen_by_source",
    oracle=ES.trimmed_mean_sql("documents", "n_chars", keys=["source"],
                               trim_permille=50),
)
def trimmed_doclen_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-TRIMMED and WINSORIZED mean document length per source
    (operators/evalstats.trimmed_mean) — the robust location estimates
    that survive the heavy length tail a plain mean is dragged by.
    Exact integer interval arithmetic over the distinct-length relation
    via the cum_below bucket decomposition (no per-group global
    sort)."""
    d = load_table(spark, sf_dir, "documents")
    return ES.trimmed_mean(d, "n_chars", keys=["source"],
                           trim_permille=50)


@query(
    "wasserstein_doclen_by_source",
    oracle=ES.wasserstein1_by_group_sql("documents", "n_chars", "source"),
)
def wasserstein_doclen_by_source(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """EXACT Wasserstein-1 drift of each source's document-length
    distribution from the pooled corpus (operators/evalstats.
    wasserstein1_by_group) — the earth-mover integral that ranks
    sources by TOTAL distributional displacement in characters, where
    KS only reports the worst single point.  Every term is an exact
    common-denominator integer; one division per source."""
    d = load_table(spark, sf_dir, "documents")
    return ES.wasserstein1_by_group(d, "n_chars", "source")


_CONF_A = 50  # permille: alpha = 0.05 -> 95% coverage guarantee
_CONF_W = {"cal": 0.5, "test": 0.5}


def _conformal_oracle() -> str:
    res = S.pca_residual_sql(_DIM, _PCA_COMPS, _PCA_ITERS)
    return f"""
    WITH res AS ({res}),
    q AS (
        SELECT vec_id,
               CAST(floor(resid * 1000000.0) AS BIGINT) AS qr,
               {SM.hash_split_sql('vec_id', _CONF_W, 'conformal')} AS split
        FROM res
    ),
    cal AS (SELECT qr FROM q WHERE split = 'cal'),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_cal FROM cal),
    d AS (
        SELECT qr AS v, CAST(COUNT(*) AS BIGINT) AS c,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY qr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
        FROM cal GROUP BY 1
    ),
    thr AS (
        SELECT MIN(CASE WHEN below + c >=
                   ((m_cal + 1) * {1000 - _CONF_A} + 999) // 1000
                   THEN v END) AS tau
        FROM d CROSS JOIN m
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN qr > tau THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged
        FROM q CROSS JOIN thr WHERE split = 'test'
    )
    SELECT m_cal, tau AS threshold_q, n_test, n_flagged,
           1.0 - CAST(n_flagged AS DOUBLE) / CAST(n_test AS DOUBLE)
               AS coverage
    FROM m CROSS JOIN thr CROSS JOIN t
    """


@query("conformal_novelty_gate", oracle=_conformal_oracle())
def conformal_novelty_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL novelty gate (Vovk et al.; Papadopoulos 2002 —
    public literature) over the PCA off-manifold residuals: calibrate
    on a deterministic hash-half of the corpus, set the threshold at
    the ⌈(m+1)(1−α)⌉-th smallest calibration residual, flag test
    vectors above it — the DISTRIBUTION-FREE guarantee (coverage ≥
    1−α for exchangeable data) that turns the raw anomaly score into a
    calibrated gate.  The order statistic is a rank selection over the
    distinct quantized-residual relation (micro-unit floor of the
    bitwise-reproducible residual; cum_below decomposition — no global
    sort, no array collection), so the whole gate is hash-exact.  If
    the calibration half is too small (k > m), τ = ∞ and nothing is
    flagged (the conservative conformal convention — NULL threshold
    compares false on both engines)."""
    from map_reduce_folds_spark.operators import evalstats as _ES

    emb = load_table(spark, sf_dir, "embeddings")
    moments = S._pca_moments(emb, "vec_id", "embedding", _DIM)
    comps, lams, tr, n = S.pca_power_fit(
        emb, "vec_id", "embedding", _DIM,
        n_components=_PCA_COMPS, iters=_PCA_ITERS, moments=moments)
    means = S.pca_means(moments)
    res = S.pca_residual_scores(emb, comps, means, "vec_id", "embedding")
    # SHARED-STAGE BOUNDARY (r14 optimization — same recipe as
    # pipeline_curation_v5's cq): the quantized-residual relation feeds
    # THREE consumer lineages (calibration distribution, calibration
    # count, test scan), each of which otherwise rebuilds the full
    # PCA-projection scan of the embedding corpus.  One lazy
    # localCheckpoint materializes the narrow (vec_id, qr, split) rows
    # exactly once; rows and hashes unchanged.
    q = SM.hash_split(
        res.select("vec_id",
                   F.floor(F.col("resid") * 1000000.0).cast("bigint")
                   .alias("qr")),
        "vec_id", weights=_CONF_W, salt="conformal") \
        .localCheckpoint(eager=False)
    cal = q.where(F.col("split") == "cal").withColumn("__g", F.lit(1))
    d = cal.groupBy("__g", "qr").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"))
    cb = _ES.cum_below(d, ["__g"], "qr", ["__c"])
    m = cal.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_cal"))
    k = ((F.col("m_cal") + 1) * (1000 - _CONF_A) + 999) / F.lit(1000)
    thr = (cb.join(m, "__g")
           .groupBy("__g")
           .agg(F.first("m_cal").alias("m_cal"),
                F.min(F.when(
                    F.col("below___c") + F.col("__c")
                    >= k.cast("bigint"), F.col("qr"))).alias("threshold_q")))
    t = (q.where(F.col("split") == "test")
         .crossJoin(F.broadcast(thr.select("m_cal", "threshold_q")))
         .agg(F.first("m_cal").alias("m_cal"),
              F.first("threshold_q").alias("threshold_q"),
              F.count(F.lit(1)).cast("bigint").alias("n_test"),
              F.sum(F.when(F.col("qr") > F.col("threshold_q"), 1)
                    .otherwise(0)).cast("bigint").alias("n_flagged")))
    return t.select(
        "m_cal", "threshold_q", "n_test", "n_flagged",
        (F.lit(1.0) - F.col("n_flagged").cast("double")
         / F.col("n_test").cast("double")).alias("coverage"))


@query(
    "quantile_normalize_doclen",
    oracle=ES.quantile_normalize_sql("documents", "n_chars", "source"),
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION of document length across sources
    (operators/evalstats.quantile_normalize): remap every source's
    length distribution onto the pooled corpus marginal — the
    cross-source harmonizer (Bolstad et al.) that removes per-source
    scale artifacts before mixing or quality-gating.  The result is
    the bounded per-(source, value) map; exact integer ranks and a
    half-open interval lookup, hash-exact."""
    d = load_table(spark, sf_dir, "documents")
    return ES.quantile_normalize(d, "n_chars", "source")


@query(
    "brown_forsythe_doclen",
    oracle=ES.brown_forsythe_sql("documents", "n_chars", "source"),
)
def brown_forsythe_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE spread-homogeneity test across sources
    (operators/evalstats.brown_forsythe): are the sources' length
    SPREADS equal?  The robust Levene variant anova_doclen_source's F
    quietly assumes — median-centered integer deviations through the
    same fixed-order ANOVA machinery."""
    d = load_table(spark, sf_dir, "documents")
    return ES.brown_forsythe(d, "n_chars", "source")


@query(
    "kruskal_wallis_doclen",
    oracle=ES.kruskal_wallis_sql("documents", "n_chars", "source"),
)
def kruskal_wallis_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H across all sources (operators/evalstats.
    kruskal_wallis): the k-sample rank test over document length — the
    distribution-free sibling of anova_doclen_source (no normality or
    equal-variance assumption) and the k-group generalization of
    mannwhitney_doclen_en.  All-integer pooled tie-averaged rank sums
    on the distinct-cell relation; tie-corrected H."""
    d = load_table(spark, sf_dir, "documents")
    return ES.kruskal_wallis(d, "n_chars", "source")


_V5_LO, _V5_HI = 150, 1500   # normalized-length keep band (chars)


def _v5_oracle() -> str:
    res = S.pca_residual_sql(_DIM, _PCA_COMPS, _PCA_ITERS)
    qn = ES.quantile_normalize_sql("documents", "n_chars", "source")
    # MATERIALIZED hints mirror the Spark side's shared-stage
    # localCheckpoints: DuckDB inlines single-referenced CTEs, so the
    # PCA-residual subplan re-evaluated per consumer exactly like the
    # unboundaried Spark lineage did (measured 70 s -> 8 s at sf0.01,
    # identical rows)
    return f"""
    WITH RECURSIVE
    res AS MATERIALIZED ({res}),
    cq AS MATERIALIZED (
        SELECT vec_id,
               CAST(floor(resid * 1000000.0) AS BIGINT) AS qr,
               {SM.hash_split_sql('vec_id', _CONF_W, 'conformal')} AS split
        FROM res
    ),
    cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_cal FROM cq
           WHERE split = 'cal'),
    cd AS (
        SELECT qr AS v, CAST(COUNT(*) AS BIGINT) AS c,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY qr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
        FROM cq WHERE split = 'cal' GROUP BY 1
    ),
    thr AS (
        SELECT MIN(CASE WHEN below + c >=
                   ((m_cal + 1) * {1000 - _CONF_A} + 999) // 1000
                   THEN v END) AS tau
        FROM cd CROSS JOIN cm
    ),
    keep_emb AS (
        SELECT vec_id FROM cq CROSS JOIN thr
        WHERE qr <= tau OR tau IS NULL
    ),
    qnmap AS MATERIALIZED ({qn}),
    keep_len AS (
        SELECT d.doc_id FROM documents d
        JOIN qnmap ON qnmap.grp = d.source AND qnmap.v = d.n_chars
        WHERE qnmap.v_norm BETWEEN {_V5_LO} AND {_V5_HI}
    ),
    surv AS (
        SELECT d.doc_id, d.text, d.n_chars FROM documents d
        JOIN keep_emb ON keep_emb.vec_id = d.doc_id
        JOIN keep_len ON keep_len.doc_id = d.doc_id
    ),
    sig AS MATERIALIZED (
        SELECT doc_id, {D.simhash_sql('text', 60)} AS s FROM surv),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component
             FROM reach GROUP BY node),
    lab AS (
        SELECT s.doc_id, s.n_chars,
               COALESCE(c.component, s.doc_id) AS cluster
        FROM surv s LEFT JOIN comp c ON s.doc_id = c.doc_id
    )
    SELECT {SM.hash_split_sql('cluster', _LSS_W)} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM lab GROUP BY 1
    """


@query("pipeline_curation_v5", oracle=_v5_oracle())
def pipeline_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURATION PIPELINE v5 — the session-6 families composed into the
    full pre-training data-prep story as ONE Catalyst plan: (1) the
    split-conformal PCA-residual gate keeps embeddings under the
    calibrated novelty threshold (τ = ∞ keeps everything when the
    calibration half is too small); (2) the quantile-normalized length
    band keeps documents whose HARMONIZED length (pooled-marginal
    remap, so one band fits every source) lies in [150, 1500]; (3)
    survivors (doc_id = vec_id) get the LEAKAGE-SAFE near-dup-cluster
    split (60-bit simhash components; clusters land whole).  Output:
    per-split docs/clusters/chars — the shape a training launch reads.
    The oracle chains all four mirrors into one recursive-CTE
    statement."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    # (1) conformal embedding gate
    moments = S._pca_moments(emb, "vec_id", "embedding", _DIM)
    comps, lams, tr, n = S.pca_power_fit(
        emb, "vec_id", "embedding", _DIM,
        n_components=_PCA_COMPS, iters=_PCA_ITERS, moments=moments)
    means = S.pca_means(moments)
    res = S.pca_residual_scores(emb, comps, means, "vec_id", "embedding")
    # SHARED-STAGE BOUNDARY (r13 verdict: the composed plan rebuilt the
    # PCA-residual subplan once per consumer lineage — cal distribution,
    # calibration count, and the keep filter each re-ran the projection
    # scan).  One lazy localCheckpoint materializes the quantized
    # residual relation (vec_id, qr, split — 3 narrow columns) exactly
    # once; same boundary discipline as the winnow/LSH materialize_path
    # recipe, RDD-level so the ContextCleaner frees the blocks.
    from map_reduce_folds_spark.operators import evalstats as _ES

    # r15 (§2.6, the v3/elbow recipe): the harmonized-length gate below
    # is INDEPENDENT of the conformal chain until the survivor join, but
    # the all-lazy boundaries materialized strictly serially inside the
    # final action.  Materialize keep_len from the shared pool while
    # THIS thread materializes the quantized-residual relation — same
    # checkpoints, same contents, no shared state ⇒ bit-identical.
    qnmap = _ES.quantile_normalize(d, "n_chars", "source")
    keep_len_lazy = (d.join(qnmap, (qnmap["grp"] == d["source"])
                            & (qnmap["v"] == d["n_chars"]))
                     .where(F.col("v_norm").between(_V5_LO, _V5_HI))
                     .select("doc_id"))
    keep_len_fut = _branch_pool().submit(
        lambda: keep_len_lazy.localCheckpoint(eager=True))
    try:
        cq = SM.hash_split(
            res.select("vec_id",
                       F.floor(F.col("resid") * 1000000.0).cast("bigint")
                       .alias("qr")),
            "vec_id", weights=_CONF_W, salt="conformal") \
            .localCheckpoint(eager=True)  # runs ∥ keep_len_fut
        cal = cq.where(F.col("split") == "cal").withColumn("__g", F.lit(1))
        cdist = cal.groupBy("__g", "qr").agg(
            F.count(F.lit(1)).cast("bigint").alias("__c"))
        cb = _ES.cum_below(cdist, ["__g"], "qr", ["__c"])
        m = cal.groupBy("__g").agg(
            F.count(F.lit(1)).cast("bigint").alias("m_cal"))
        kk = ((F.col("m_cal") + 1) * (1000 - _CONF_A) + 999) / F.lit(1000)
        thr = (cb.join(m, "__g").groupBy("__g")
               .agg(F.min(F.when(
                   F.col("below___c") + F.col("__c") >= kk.cast("bigint"),
                   F.col("qr"))).alias("tau")))
        keep_emb = (cq.crossJoin(F.broadcast(thr.select("tau")))
                    .where((F.col("qr") <= F.col("tau"))
                           | F.col("tau").isNull())
                    .select("vec_id"))
        # (2) harmonized length band — materialized concurrently above
        keep_len = keep_len_fut.result()
    finally:
        _settle(keep_len_fut)
    # (3) survivors -> leakage-safe cluster split
    # second shared boundary: survivors feed BOTH the simhash component
    # build and the labeling join — checkpoint so the two-gate filter
    # chain (conformal ∧ length band) computes once
    surv = (d.join(keep_emb.withColumnRenamed("vec_id", "doc_id"),
                   "doc_id")
            .join(keep_len, "doc_id")
            .select("doc_id", "text", "n_chars")
            .localCheckpoint(eager=False))
    comp = D.simhash_components(surv, "doc_id", "text", bits=60,
                                max_hamming=3, blocks="auto")
    lab = (surv.join(comp.select(F.col("node").alias("doc_id"),
                                 "component"), "doc_id", "left")
           .select("doc_id", "n_chars",
                   F.coalesce(F.col("component"), F.col("doc_id"))
                   .alias("cluster")))
    s = SM.hash_split(lab, "cluster", weights=_LSS_W)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.sum("n_chars").cast("bigint").alias("chars"))


@query(
    "bootstrap_chars_per_token_ci",
    oracle=SM.poisson_bootstrap_ratio_ci_sql(
        "(SELECT doc_id, source, n_chars, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks "
        "FROM documents)",
        "n_chars", "n_toks", "doc_id", keys=["source"],
        n_boot=_BOOT_B, tail_permille=_BOOT_A2),
)
def bootstrap_chars_per_token_ci(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """95% bootstrap CI for CHARS PER TOKEN by source — a RATIO
    estimator (operators/sampling.poisson_bootstrap_ratio_ci), the
    family whose standard error has no closed form and for which the
    bootstrap exists: both sums re-weighted by the SAME deterministic
    Poisson draw per replicate, ratio = one exact-integer-sum division,
    bounds = integer-indexed order statistics."""
    d = load_table(spark, sf_dir, "documents")
    d2 = d.select("doc_id", "source", "n_chars",
                  F.size(T.tokenize("text")).cast("bigint")
                  .alias("n_toks"))
    return SM.poisson_bootstrap_ratio_ci(
        d2, "n_chars", "n_toks", "doc_id", keys=["source"],
        n_boot=_BOOT_B, tail_permille=_BOOT_A2)


@query(
    "jackknife_chars_per_token_ci",
    oracle=SM.jackknife_ratio_ci_sql(
        "(SELECT source, n_chars, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks "
        "FROM documents)",
        "n_chars", "n_toks", "source"),
)
def jackknife_chars_per_token_ci(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """DELETE-ONE-SOURCE JACKKNIFE CI for corpus chars-per-token
    (operators/sampling.jackknife_ratio_ci) — the deterministic
    complement to bootstrap_chars_per_token_ci: sources are the natural
    resampling unit (correlated docs WITHIN a source), so leave-one-
    source-out spread is the honest standard error for a corpus-level
    ratio.  Exact DECIMAL source sums; every leave-one-out ratio is one
    integer subtraction + one IEEE division; folds walk the bounded
    source-sorted array."""
    d = load_table(spark, sf_dir, "documents")
    d2 = d.select("source", "n_chars",
                  F.size(T.tokenize("text")).cast("bigint")
                  .alias("n_toks"))
    return SM.jackknife_ratio_ci(d2, "n_chars", "n_toks", "source")


@query(
    "welch_t_doclen_en",
    oracle=ES.welch_t_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"),
)
def welch_t_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S t for English-vs-rest document length (operators/
    evalstats.welch_t) — the unequal-variance two-sample mean test that
    completes the family (z for proportions, Mann-Whitney for ranks,
    ANOVA/Kruskal-Wallis for k groups).  Exact integer moments; t and
    the Welch-Satterthwaite df are mirrored double chains."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("n_chars",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"))
    return ES.welch_t(lab, "n_chars", "is_en")


@query(
    "effect_size_doclen_en",
    oracle=ES.cohens_d_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"),
)
def effect_size_doclen_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S d / HEDGES' g for English-vs-rest document length
    (operators/evalstats.cohens_d) — welch_t_doclen_en's effect-size
    companion: at corpus n every test is "significant", and the
    standardized mean difference is the number that actually ranks
    interventions.  Same exact integer moments; pooled-variance d and
    bias-corrected g are mirrored sqrt/division chains."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("n_chars",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"))
    return ES.cohens_d(lab, "n_chars", "is_en")


@query(
    "cliffs_delta_doclen_by_source",
    oracle=ES.cliffs_delta_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=["source"]),
)
def cliffs_delta_doclen_by_source(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """CLIFF'S DELTA of English-vs-rest document length PER SOURCE
    (operators/evalstats.cliffs_delta) — the ordinal effect-size screen
    that pairs with fdr_doclen_en_by_source's significance screen:
    which sources have a shift that MATTERS, robust to doc-length
    outliers.  Same distinct-value + cum_below machinery as
    mannwhitney_z; delta is one exact-integer division, with the
    Romano magnitude bands on the mirrored double."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("source", "n_chars",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"))
    return ES.cliffs_delta(lab, "n_chars", "is_en", keys=["source"])


@query(
    "rake_source_lang_uniform",
    oracle=SM.ipf_rake_uniform_sql(
        "documents", "source", "lang", rounds=5,
        row_name="source", col_name="lang"),
)
def rake_source_lang_uniform(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """IPF RAKING of the corpus to uniform source AND language
    marginals (operators/sampling.ipf_rake_uniform, 5 fixed sweeps) —
    the two-constraint calibration temperature/UniMax mixing can't do:
    one weight per (source, lang) cell so neither marginal dominates
    after weighting.  The whole cell table is the bounded observed
    source×lang domain in one sorted array; sweeps and folds are
    engine-identical by construction."""
    d = load_table(spark, sf_dir, "documents")
    return SM.ipf_rake_uniform(d, "source", "lang", rounds=5)


_FDR_A = 50  # permille: alpha = 0.05


def _fdr_oracle() -> str:
    mw = ES.mannwhitney_z_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=["source"])
    hyp = f"""SELECT source AS key,
           {ES.normal_p_two_sided_sql('z')} AS p
    FROM ({mw})"""
    return ES.bh_fdr_sql(hyp, alpha_permille=_FDR_A)


def _holm_oracle() -> str:
    mw = ES.mannwhitney_z_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=["source"])
    hyp = f"""SELECT source AS key,
           {ES.normal_p_two_sided_sql('z')} AS p
    FROM ({mw})"""
    return ES.holm_adjust_sql(hyp, alpha_permille=_FDR_A)


@query("holm_doclen_en_by_source", oracle=_holm_oracle())
def holm_doclen_en_by_source(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """HOLM step-down FWER control over the per-source Mann-Whitney
    screen (operators/evalstats.holm_adjust) — the strict companion to
    fdr_doclen_en_by_source: BH bounds the false-discovery FRACTION,
    Holm bounds the chance of even ONE false call (the right guard
    when acting on a flagged source is expensive), with adjusted
    p-values via bounded prefix folds."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("source", "n_chars",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"))
    mw = ES.mannwhitney_z(lab, "n_chars", "is_en", keys=["source"])
    hyp = mw.select(F.col("source").alias("key"),
                    ES.normal_p_two_sided(F.col("z")).alias("p"))
    return ES.holm_adjust(hyp, "p", "key", alpha_permille=_FDR_A)


@query("fdr_doclen_en_by_source", oracle=_fdr_oracle())
def fdr_doclen_en_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR over the per-source Mann-Whitney screen
    (operators/evalstats.bh_fdr): for each source, test whether its
    English docs' length distribution is shifted vs the rest
    (mannwhitney_z keys=source), convert z to a two-sided normal
    p-value via the mirrored A&S erfc chain (neither engine ships erf —
    the approximation is documented and, critically, a FIXED Horner
    chain both engines evaluate identically), then step-up control the
    false-discovery rate at 5% across the 20-source family — the
    multiple-testing guard a screening sweep needs before acting on its
    smallest p.  Degenerate sources (NULL z) drop out of the family."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("source", "n_chars",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"))
    mw = ES.mannwhitney_z(lab, "n_chars", "is_en", keys=["source"])
    hyp = mw.select(F.col("source").alias("key"),
                    ES.normal_p_two_sided(F.col("z")).alias("p"))
    return ES.bh_fdr(hyp, "p", "key", alpha_permille=_FDR_A)


@query(
    "cmh_en_long_by_source",
    oracle=ES.cmh_test_sql(
        "documents", "source",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
        "CASE WHEN n_chars >= 3000 THEN 1 ELSE 0 END"),
)
def cmh_en_long_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL: is "English docs run long" a REAL
    association once stratified by source, or a Simpson's-paradox
    artifact of source composition (operators/evalstats.cmh_test)?
    Per-source 2×2 hypergeometric moments (the logrank machinery
    shape), stratum-sorted folds, χ²(1) p via the erfc chain, plus the
    MH common odds ratio."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("source",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"),
                   F.when(F.col("n_chars") >= 3000, 1).otherwise(0)
                   .alias("is_long"))
    return ES.cmh_test(lab, "source", "is_en", "is_long")


def _combine_oracle() -> str:
    mw = ES.mannwhitney_z_sql(
        "documents", "n_chars",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END", keys=["source"])
    hyp = f"""SELECT {ES.normal_p_two_sided_sql('z')} AS p, z
    FROM ({mw})"""
    return ES.combine_pvalues_sql(hyp)


@query("combine_pvalues_doclen_en", oracle=_combine_oracle())
def combine_pvalues_doclen_en(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """FISHER + STOUFFER combination of the per-source Mann-Whitney
    screen (operators/evalstats.combine_pvalues) — the "is there ANY
    length shift in the family" verdict that complements
    fdr_doclen_en_by_source's "which sources": Fisher's −2Σln p with
    the closed-form even-df Erlang tail (no incomplete gamma — it
    mirrors exactly), Stouffer's Σz/√k through the shared erfc
    chain."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select("source", "n_chars",
                   F.when(F.col("lang") == "en", 1).otherwise(0)
                   .alias("is_en"))
    mw = ES.mannwhitney_z(lab, "n_chars", "is_en", keys=["source"])
    hyp = mw.select(ES.normal_p_two_sided(F.col("z")).alias("p"),
                    F.col("z"))
    return ES.combine_pvalues(hyp, "p", "z")


@query(
    "ess_dsir_selection",
    oracle=SM.effective_sample_size_sql(
        f"(SELECT round(exp(logw), 9) AS w FROM ({_dsir_oracle()}))",
        "w"),
)
def ess_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE of the DSIR importance weights
    (operators/sampling.effective_sample_size — Kish 1965): "resampling
    this corpus by w = p_target/p_raw is worth ESS unweighted docs" —
    the collapse diagnostic to read BEFORE training on a reweighted
    mixture (a heavy weight tail can quietly shrink 10M docs to an
    effective 50k).  w = round(exp(logw), 9) (the post-transcendental
    discipline), then micro-unit quantization makes both ESS sums
    exact integers under any partitioning."""
    d = load_table(spark, sf_dir, "documents")
    lw = Q.dsir_logweights(d, F.col("lang") == "en")
    w = lw.select(F.round(F.exp(F.col("logw")), 9).alias("w"))
    return SM.effective_sample_size(w, "w")


# -- paired gates / trend / rank concordance (round 14) ----------------------
_MCN_TOKS = "CAST(len(string_split(text, ' ')) AS BIGINT)"


@query(
    "mcnemar_quality_gates",
    oracle=ES.mcnemar_test_sql(
        f"""(SELECT CASE WHEN n_chars BETWEEN 150 AND 1500
                         THEN 1 ELSE 0 END AS ga,
                    CASE WHEN {_MCN_TOKS} BETWEEN 30 AND 300
                         THEN 1 ELSE 0 END AS gb
             FROM documents)""",
        "ga", "gb"),
)
def mcnemar_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR paired comparison of two quality gates on the SAME corpus
    (operators/evalstats.mcnemar_test): the char-length band vs the
    token-count band — "do the filters disagree beyond chance?" scored
    on the discordant documents only, the correct design for paired
    classifier verdicts.  Exact integer discordance counts, continuity-
    corrected χ², p via the shared erfc chain."""
    d = load_table(spark, sf_dir, "documents")
    gates = d.select(
        F.col("n_chars").between(150, 1500).cast("int").alias("ga"),
        F.size(T.tokenize("text")).cast("bigint").between(30, 300)
        .cast("int").alias("gb"))
    return ES.mcnemar_test(gates, "ga", "gb")


@query(
    "mann_kendall_daily_events",
    oracle=ES.mann_kendall_sql(
        """(SELECT CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1)""",
        "n_events", "d"),
)
def mann_kendall_daily_events(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """MANN-KENDALL monotone-trend test on DAILY event volume
    (operators/evalstats.mann_kendall): "is ingest drifting?" without a
    linearity assumption — S = Σ sign over the bounded day×day pair
    relation (calendar-bounded, never corpus rows), tie-corrected
    integer variance, z and p through the shared erfc chain."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return ES.mann_kendall(daily, "n_events", "d")


@query(
    "siegel_slope_daily_events",
    oracle=ES.siegel_slope_sql(
        """(SELECT CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1)""",
        "n_events", "d"),
)
def siegel_slope_daily_events(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """SIEGEL REPEATED-MEDIANS slope of daily event volume
    (operators/evalstats.siegel_slope) — theil_sen_daily_events'
    50%-breakdown upgrade: per-day median slopes, then the median of
    medians, so the trend line holds even when half the days are
    corrupted.  Bounded day-pair relation; every median a fixed
    order statistic over a sorted bounded array."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint")
        .alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return ES.siegel_slope(daily, "n_events", "d")


@query(
    "pettitt_changepoint_daily_events",
    oracle=ES.pettitt_changepoint_sql(
        """(SELECT CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1)""",
        "n_events", "d"),
)
def pettitt_changepoint_daily_events(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """PETTITT changepoint on DAILY event volume (operators/evalstats.
    pettitt_changepoint) — mann_kendall_daily_events' "WHEN did it
    shift" companion: K = max |U_t| over the bounded day-pair sign
    sums via the exact integer out/in recurrence (never the cubed
    pair-and-t relation), argmax day with earliest tie-break, one
    rounded exp for the classic p approximation."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint")
        .alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return ES.pettitt_changepoint(daily, "n_events", "d")


@query(
    "pettitt_cp_by_event_type",
    oracle=ES.pettitt_changepoint_sql(
        """(SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2)""",
        "n_events", "d", keys=["event_type"]),
)
def pettitt_cp_by_event_type(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """PER-EVENT-TYPE Pettitt changepoint screen (operators/evalstats.
    pettitt_changepoint, keys=): the grouped form — each type's daily
    series gets its own U recurrence and argmax day, the bounded
    day-pair join carrying the type as an equi-key so the T×T blow-up
    stays per-group (the mann_kendall grouped contract)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint")
        .alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return ES.pettitt_changepoint(daily, "n_events", "d",
                                  keys=["event_type"])


@query(
    "confseq_purchase_rate_daily",
    oracle=ES.hoeffding_confseq_sql(
        """(SELECT CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_ev,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                          THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_buy
            FROM events GROUP BY 1)""",
        "d", "n_ev", "n_buy", time_name="d"),
)
def confseq_purchase_rate_daily(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """ANYTIME-VALID confidence sequence on the cumulative purchase
    rate by day (operators/evalstats.hoeffding_confseq — Howard et al.
    2021 stitched boundary): the band that stays valid under DAILY
    PEEKING, i.e. the honest monitor for a continuously-watched
    conversion metric where repeated z-tests would inflate false
    alarms.  Exact integer cumulative counts over the bounded daily
    relation; the radius chain rounds after each nested ln."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint")
        .alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev"),
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)), F.lit(0)).cast("bigint")
        .alias("n_buy"))
    return ES.hoeffding_confseq(daily, "d", "n_ev", "n_buy")


@query(
    "kendall_tau_doclen_tokens",
    oracle=ES.kendall_tau_b_sql(
        f"""(SELECT n_chars // 100 AS xb, {_MCN_TOKS} // 20 AS yb
             FROM documents)""",
        "xb", "yb"),
)
def kendall_tau_doclen_tokens(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """KENDALL τ-b between quantized document length and token count
    (operators/evalstats.kendall_tau_b) — the tie-corrected rank
    concordance that complements Spearman: concordant/discordant mass
    on the DISTINCT-CELL relation (bounded by the quantized value
    domain — the wasserstein bounded-domain contract), DECIMAL-staged
    cell-count products, one fixed double chain for τ."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        (F.col("n_chars") / 100).cast("bigint").alias("xb"),
        (F.size(T.tokenize("text")).cast("bigint") / 20).cast("bigint")
        .alias("yb"))
    return ES.kendall_tau_b(q, "xb", "yb")


@query(
    "theil_sen_daily_events",
    oracle=ES.theil_sen_sql(
        """(SELECT CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1)""",
        "n_events", "d"),
)
def theil_sen_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust slope of daily event volume
    (operators/evalstats.theil_sen) — mann_kendall_daily_events'
    effect-size companion: events/day of drift, median-of-pairwise-
    slopes so outlier days don't drag the line.  Day index = integer
    days since 2024-01-01 (both engines' date arithmetic agrees on
    whole days); every slope is one IEEE division of integer
    differences; medians are order statistics of the bounded sorted
    slope list."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("bigint")
        .alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return ES.theil_sen(daily, "n_events", "d")


def _mk_drift_oracle() -> str:
    mk = ES.mann_kendall_sql(
        """(SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2)""",
        "n_events", "d", keys=["event_type"])
    return ES.bh_fdr_sql(
        f"(SELECT event_type AS key, p FROM ({mk}) WHERE p IS NOT NULL)",
        alpha_permille=_FDR_A)


@query("mk_drift_by_event_type_fdr", oracle=_mk_drift_oracle())
def mk_drift_by_event_type_fdr(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """DRIFT SCREEN with multiplicity control — the monitoring
    composition a production corpus pipeline runs nightly: per
    EVENT TYPE, Mann-Kendall trend on daily volume
    (operators/evalstats.mann_kendall keys= — the pair join carries
    the group as an equi-key, so the bounded day×day blow-up stays
    per-group), p-values through the shared erfc chain, then
    Benjamini-Hochberg at 5% across the event-type family so the
    screen's smallest p survives multiple testing before anyone acts
    on it."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"))
    mk = ES.mann_kendall(daily, "n_events", "d", keys=["event_type"])
    hyp = mk.where(F.col("p").isNotNull()).select(
        F.col("event_type").alias("key"), "p")
    return ES.bh_fdr(hyp, "p", "key", alpha_permille=_FDR_A)


@query(
    "ca_trend_en_by_length",
    oracle=ES.cochran_armitage_sql(
        """(SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   LEAST(n_chars // 300, 6) AS w
            FROM documents)""",
        "y", "w"),
)
def ca_trend_en_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE trend of English share across ordered length
    buckets (operators/evalstats.cochran_armitage) — "does language mix
    drift with document length?" as ONE ordered-alternative test
    instead of a bucket-by-bucket z sweep.  Buckets = n_chars//300
    capped at 6 (the bounded-domain contract); all sums exact staged
    integers, z one chain, p via the shared erfc."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        (F.col("lang") == "en").cast("bigint").alias("y"),
        F.least((F.col("n_chars") / 300).cast("bigint"), F.lit(6))
        .alias("w"))
    return ES.cochran_armitage(g, "y", "w")


@query(
    "eb_shrunk_doclen_by_source",
    oracle=ES.eb_shrunk_means_sql("documents", "n_chars", "source"),
)
def eb_shrunk_doclen_by_source(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """EMPIRICAL-BAYES shrunk mean document length per source
    (operators/evalstats.eb_shrunk_means — James-Stein via the
    DerSimonian-Laird τ²): small sources' noisy means pull toward the
    family consensus in proportion to their noise — the per-source
    score table that doesn't over-rank small-sample flukes.  Exact
    integer moments; every family fold runs in group-sorted fixed
    parenthesization."""
    d = load_table(spark, sf_dir, "documents")
    return ES.eb_shrunk_means(d, "n_chars", "source")
