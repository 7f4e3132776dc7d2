"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (north-star GAP ops).

Design for 100 TB:

* Exact dedup is a hash-groupBy — one shuffle on a 60-bit digest, map-side
  partial dedup for free.
* Near-dup never does an O(n²) cross join.  The exact Jaccard path uses an
  inverted shingle index (explode → join on shingle hash → count per pair),
  which only touches pairs that actually share a shingle.  The MinHash-LSH
  path reduces that further: signature (k portable hashes, pure Catalyst
  exprs), band, bucket-join — candidate generation is linear in corpus
  size, and the exact-Jaccard verification runs only on candidates.
* Everything is Catalyst expressions (md5-based hash60) — no Python in the
  hot path, and every deterministic step has an exact DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators.text import (
    distinct_shingle_hashes, hash60, tokenize,
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact text digest — deterministic
    representative selection (min_by), one shuffle on the digest."""
    return (
        df.withColumn("__digest", hash60(text_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def materialize_stage(df: DataFrame, path: str) -> DataFrame:
    """Pipeline stage boundary as a TABLE WRITE: write ``df`` to parquet at
    ``path`` (overwrite) and return a fresh scan of it.

    This is the cluster-scale analog of ``.persist()`` between expensive
    stages (e.g. LSH signatures feeding both sides of a bucket self-join):
    the stage is computed exactly once, downstream consumers re-read the
    materialized table instead of re-deriving the lineage (which would also
    compile a doubled whole-stage-codegen tree), and — unlike a cache — the
    boundary survives executor loss, frees no-longer-needed memory, and can
    be inspected or reused across jobs.  The write is EAGER (runs a job at
    call time) — inherent to a stage boundary."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _mh_coeffs(i: int) -> tuple[int, int]:
    """Fixed multiplier/offset for permutation i — Knuth-style constants,
    all < 2^31 so a·h + b stays < 2^62 (no bigint overflow in Spark OR in
    the DuckDB oracle, which errors on overflow rather than wrapping)."""
    a = (2654435761 * (i + 1)) % _MH_P
    b = (40503 * (i + 17) + 1) % _MH_P
    return (a | 1), b  # odd multiplier


def minhash_signature(shingle_hashes: Column, k: int = 16) -> Column:
    """k-permutation MinHash signature as array<bigint>.

    Permutation i is the universal hash (aᵢ·(h mod 2³¹) + bᵢ) mod (2³¹−1)
    over the already-md5-derived shingle hashes — pure integer arithmetic
    (no per-permutation md5), bit-identical in any engine.  Empty shingle
    sets get NULL elements (no shingles → no signature)."""
    def perm(i):
        a, b = _mh_coeffs(i)
        return lambda h: (F.lit(a) * (h % F.lit(2147483648)) + F.lit(b)) % F.lit(_MH_P)
    return F.array(*[
        F.array_min(F.transform(shingle_hashes, perm(i))) for i in range(k)
    ])


def band_hashes(signature: Column, bands: int, rows: int) -> Column:
    """Split a k=bands·rows signature into band digests.  Each signature
    element is < 2³¹, so a band of `rows` elements packs injectively into
    one bigint via base-2³¹ positional encoding — no hashing needed, and
    the same expression is exact in the SQL oracle."""
    # base-2^31 packing is injective only while bands of `rows` elements fit
    # a bigint: rows >= 3 reaches ~2^93 and silently wraps (and overflows the
    # DuckDB oracle, which errors instead of wrapping)
    assert rows <= 2, f"band packing supports rows <= 2, got {rows}; use more bands"

    def pack(b: int) -> Column:
        acc = F.lit(0).cast("bigint")
        for r in range(rows):
            acc = acc * F.lit(2147483648) + F.element_at(signature, b * rows + r + 1)
        return acc
    return F.array(*[pack(b) for b in range(bands)])


def minhash_band_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 8,
    token_pattern: str | None = None,
) -> DataFrame:
    """(id, sh array<bigint>, bandh array<bigint>) in ONE vectorized Arrow
    stage — semantically identical to
    ``distinct_shingle_hashes`` + :func:`minhash_signature` +
    :func:`band_hashes` (equality asserted in tests/test_llm.py), but
    without the interpreted higher-order-function tree, whose per-run cost
    dominated the Catalyst form (~5 s at ANY data size).

    Parity is exact by construction: tokenization is the same
    single-space split, shingle hashing the same md5[:15hex] integer, and
    the permutation/band arithmetic is pure int64 — no floats anywhere.
    Docs with fewer than ``n`` tokens are dropped (empty shingle set).

    ``token_pattern`` (opt-in, real corpora): tokenize with this regex
    instead of the space split.  Compiled with ``re.ASCII`` so ``\\w``/
    ``\\s`` match Java regex and RE2/DuckDB exactly (the portable-dialect
    contract of text.DEFAULT_TOKEN_PATTERN)."""
    import hashlib
    import re as _re

    import numpy as np

    rows = k // bands
    assert rows == 2, "band packing supports rows == 2 (see band_hashes)"
    ab = np.array([_mh_coeffs(i) for i in range(k)], dtype=np.int64)
    a_col = ab[:, 0:1]  # (k,1) — broadcast against the shingle axis
    b_col = ab[:, 1:2]
    id_type = dict(docs.dtypes)[id_col]
    schema = f"{id_col} {id_type}, sh array<bigint>, bandh array<bigint>"
    pat = _re.compile(token_pattern, _re.ASCII) if token_pattern else None

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = pat.findall(text) if pat else text.split(" ")
                if len(toks) < n:
                    continue
                shs = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                hs = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shs),
                    dtype=np.int64, count=len(shs),
                )
                hs = np.unique(hs)
                # (a·(h mod 2³¹) + b) mod (2³¹−1), min over shingles — all
                # int64 (a,h < 2³¹ so a·h < 2⁶², no overflow)
                sig = ((a_col * (hs % 2147483648) + b_col) % _MH_P).min(axis=1)
                bandh = sig[0::2] * 2147483648 + sig[1::2]
                out.append((doc_id, hs, bandh))
            if out:
                yield pd.DataFrame(out, columns=[id_col, "sh", "bandh"])

    from map_reduce_folds_spark.sources import spread_small_scan

    # single-file fixture inputs scan as ONE task; the per-shingle md5
    # work here is the pipeline's dominant per-row cost, so floor the
    # parallelism before the Arrow stage (no-op at production scale —
    # guide §2.5 input-skew fix; measured 0.84 s -> 0.44 s at sf0.1)
    src = spread_small_scan(docs.select(id_col, text_col), id_col)
    return src.mapInPandas(gen, schema=schema)


def materialize_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Stage boundary as a BUCKETED managed table: like
    :func:`materialize_stage` but the write hash-buckets on
    ``bucket_cols`` (``saveAsTable`` — bucketing metadata lives in the
    catalog), so any downstream join/self-join ON THOSE COLUMNS reads
    both sides pre-co-located and compiles with ZERO Exchange — the LSH
    bucket self-join's shuffle moves into the one-time write.  At 100 TB
    that converts the candidate join from reshuffling the signature table
    per query batch into a metadata lookup (asserted Exchange-free in
    tests/test_llm.py)."""
    from map_reduce_folds_spark.sources import write_bucketed

    write_bucketed(df, table, bucket_cols, n_buckets, sort_cols)
    return df.sparkSession.table(table)


def lsh_candidate_pairs(
    df: DataFrame, id_col: str, band_col: str, bands: int,
    materialize: bool = True,
    distinct: bool = True,
    materialize_path: str | None = None,
    materialize_table: str | None = None,
    n_buckets: int = 16,
) -> DataFrame:
    """Candidate pairs = ids sharing any band bucket.

    Explode bands → shuffle on (band_idx, digest) → pair up within bucket.
    Bucket pairing is a self-join on the bucket key (not collect_list) so a
    pathological mega-bucket still streams through the join rather than
    materializing in one task.

    ``materialize`` persists the exploded (id, band, digest) rows before the
    self-join.  This matters twice over: it stops Spark re-deriving the md5
    signature pipeline on both join sides, and it keeps the join's codegen
    tree small (self-joining the raw expression lineage compiles a huge
    whole-stage method — observed 30× slower).  ``materialize_path`` is the
    cluster-scale form of the same boundary: write the exploded rows to a
    parquet table at that path and self-join the SCAN (see
    :func:`materialize_stage`) — identical results, table-backed.
    ``materialize_table`` goes one further: a catalog table BUCKETED on
    (digest, band_idx), so the self-join itself is Exchange-free
    (:func:`materialize_bucketed`)."""
    e = df.select(
        F.col(id_col),
        F.posexplode(F.col(band_col)).alias("band_idx", "digest"),
    )
    if materialize_table is not None:
        e = materialize_bucketed(e, materialize_table,
                                 ["digest", "band_idx"], n_buckets)
    elif materialize_path is not None:
        e = materialize_stage(e, materialize_path)
    elif materialize:
        # lazy localCheckpoint, not persist(): same one-evaluation reuse
        # across the self-join's two sides, but GC-cleaned — persist()
        # blocks on a lazily-returned frame leak in the CacheManager for
        # the session's life unless every caller unpersists
        e = e.localCheckpoint(eager=False)
    pairs = band_bucket_self_join(e, id_col)
    return pairs.distinct() if distinct else pairs


def band_bucket_self_join(e: DataFrame, id_col: str) -> DataFrame:
    """The bucket pairing itself, over an already-exploded
    ``(id, band_idx, digest)`` stage (in-lineage, parquet-backed, or a
    bucketed catalog table — on the latter this compiles Exchange-free)."""
    a = e.alias("a")
    b = e.alias("b")
    return a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.digest") == F.col("b.digest"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two hash-set arrays — single double division."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / F.size(F.array_union(a, b))


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    token_pattern: str | None = None,
    materialize_path: str | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: shingle → sign → band → bucket-join
    → exact-Jaccard verify ≥ threshold.

    Output: (id_a, id_b, jaccard).  Probabilistic recall (bands/rows tune
    the S-curve); precision is exact because candidates are verified.

    ``materialize_path``: back the signature-stage boundary with a parquet
    table at this path instead of ``.persist()`` — the cluster-scale form
    (see :func:`materialize_stage`); results are identical."""
    # ONE materialized projection carries both the shingle sets (for verify)
    # and the band digests (for candidate generation): a single evaluation
    # of the signature stage, reused by the bucket self-join's two sides
    # and the verify join's two sides (five consumers).  The stage itself
    # is the vectorized Arrow form — see minhash_band_rows.
    base = minhash_band_rows(docs, id_col, text_col, n=n, k=k, bands=bands,
                             token_pattern=token_pattern)
    base = (materialize_stage(base, materialize_path)
            if materialize_path is not None
            else base.localCheckpoint(eager=False))
    cand = lsh_candidate_pairs(base, id_col, "bandh", bands, materialize=False,
                               distinct=False)

    sets_ = base.select(F.col(id_col), F.col("sh"))
    j = (
        cand.join(sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )
    # dedup AFTER verification: candidates repeated across bands re-verify
    # (cheap array ops, band-multiplicity-bounded) but the pre-verify
    # .distinct() stage barrier disappears — one fewer shuffle in the
    # critical path; the post-filter set is far smaller to dedup
    return j.filter(F.col("jaccard") >= threshold).distinct()


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted shingle index
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    token_pattern: str | None = None,
) -> DataFrame:
    """ALL pairs with Jaccard ≥ threshold, exactly — via the inverted index:
    explode shingles, self-join on shingle hash, count common shingles per
    pair, then jaccard = common / (|A| + |B| - common).

    Cost ∝ Σ_shingle bucket², not n² — frequency-skewed shingles are the
    scale risk.  ``max_shingle_df`` is the skew guard for 100 TB corpora:
    shingles appearing in more than that many documents (stopword n-grams,
    boilerplate) are excluded from CANDIDATE GENERATION only, capping every
    index bucket at ``max_shingle_df²`` join rows.  Surviving candidate
    pairs are then re-scored against the FULL shingle sets
    (array_intersect), so every emitted (pair, jaccard) is bitwise
    identical to the uncapped computation — the only semantic change is
    recall: a pair whose overlap consists ENTIRELY of hot shingles is
    missed (such pairs share only boilerplate, which is exactly what the
    cap is meant to discount)."""
    sh = docs.select(
        F.col(id_col),
        distinct_shingle_hashes(text_col, n, token_pattern=token_pattern)
        .alias("sh"),
    ).filter(F.size("sh") > 0)
    sizes = sh.select(F.col(id_col), F.size("sh").alias("sz"))
    inv = sh.select(F.col(id_col), F.explode("sh").alias("h"))

    if max_shingle_df is not None:
        # document frequency per shingle; keep only cool shingles in the
        # index (one extra agg on the already-exploded rows — map-side
        # combine keeps it a partial-agg pass, no second scan of docs)
        cool = (
            inv.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("h")
        )
        inv = inv.join(cool, "h")

    a = inv.alias("a")
    b = inv.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )

    if max_shingle_df is not None:
        # verify-after: recompute the TRUE intersection size from the full
        # shingle arrays so hot-shingle exclusion never skews the score
        sets_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        sets_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        out = (
            cand.select("id_a", "id_b")
            .join(sets_a, "id_a").join(sets_b, "id_b")
            .select(
                "id_a", "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
                F.size("sh_a").alias("sz_a"), F.size("sh_b").alias("sz_b"),
            )
        )
    else:
        out = (
            cand
            .join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        )
    out = out.select(
        "id_a", "id_b",
        (F.col("common").cast("double")
         / (F.col("sz_a") + F.col("sz_b") - F.col("common"))).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold)


def duplicate_ngram_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 2,
    token_pattern: str | None = None,
) -> DataFrame:
    """Per-document CROSS-CORPUS duplicated n-gram fraction — the
    corpus-quality audit metric of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", public literature):
    what fraction of a document's n-gram OCCURRENCES belong to n-grams
    seen in at least ``min_docs`` distinct documents.  High fractions
    flag boilerplate / template / near-dup contamination that survives
    doc-level dedup; the per-doc score feeds quality gates the same way
    ``text.quality_score`` does.

    One token scan → n-gram occurrence explode (JVM-side
    :func:`text.shingles`) → document-frequency agg on the 60-bit gram
    hash (map-side-combinable; the shuffle key is a fixed-width bigint,
    never the gram string) → one join back → per-doc counts.  Documents
    shorter than ``n`` tokens surface with ``n_ngrams = 0`` and a NULL
    fraction (restored by a left join, the funnel zero-step
    discipline).  ``dup_frac`` is one division of two integers — bitwise
    portable without rounding (the jaccard discipline).

    Output: ``(id_col, n_ngrams, n_dup, dup_frac)``."""
    from map_reduce_folds_spark.operators.text import (
        hash60, shingles, tokenize, tokenize_regex,
    )

    toks = (tokenize(text_col) if token_pattern is None
            else tokenize_regex(text_col, token_pattern))
    occ = docs.select(
        F.col(id_col),
        F.explode(shingles(toks, n)).alias("__g"),
    ).select(id_col, hash60(F.col("__g")).alias("__gh"))
    df_per_gram = (
        occ.select(id_col, "__gh").distinct()
        .groupBy("__gh").agg(F.count(F.lit(1)).alias("__nd"))
    )
    per = (
        occ.join(df_per_gram, "__gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_ngrams"),
             F.sum((F.col("__nd") >= min_docs).cast("bigint"))
             .alias("n_dup"))
    )
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("bigint")
            .alias("n_ngrams"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
            F.when(
                F.col("n_ngrams") > 0,
                F.col("n_dup").cast("double") / F.col("n_ngrams"),
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Exact-substring dedup as a CORPUS REWRITE — the removal step of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", public literature) at fixed ``n``-token gram granularity:
    every occurrence of a corpus-duplicated n-token gram EXCEPT the
    globally first one (minimal ``(doc_id, position)`` — deterministic
    on any engine/partitioning) is cut from its document's text, and
    overlapping cuts merge.  The suffix-array original removes
    arbitrary-length duplicate spans; fixing the granularity turns the
    whole computation into relational primitives — occurrence explode,
    one gram-hash aggregate, a sorted per-doc interval fold — with no
    per-node suffix structure, which is the 100 TB trade.

    Shape: token scan → n-gram occurrence explode (JVM
    :func:`text.shingles`) → per-gram-hash (count, argmin occurrence)
    aggregate (map-side combinable, fixed-width bigint key) → join back
    marks removal starts → per-doc SORTED interval fold rebuilds the
    kept text with a (string, cursor, removed) state.  All-integer and
    string arithmetic — bitwise portable, no rounding needed.  The text
    rebuild assumes single-space tokenization (the fixture's canonical
    form, same assumption as every shingle consumer).

    Output: ``(id, clean_text, n_removed)`` — every input doc appears;
    untouched docs carry their original text and ``n_removed = 0``.

    Gram identity is a 120-bit key (two independently-salted 60-bit md5
    hashes, fixed-width struct — still a map-side-combinable shuffle
    key, unlike carrying the variable-width gram text).  Unlike the
    audit-only :func:`duplicate_ngram_stats`, a false hash collision
    here DELETES unique text, so the key is sized for the corpus this
    docstring advertises: at 10^12 grams the birthday bound gives
    P(any collision) ≈ (10^12)²/2^121 ≈ 4·10⁻¹³ (a single 60-bit key
    would collide with near-certainty at that scale)."""
    from map_reduce_folds_spark.operators.text import (
        hash60, shingles, tokenize)

    def gram_key(g):
        return F.struct(hash60(g).alias("h1"),
                        hash60(g, salt="span2").alias("h2"))

    tk = docs.select(F.col(id_col), tokenize(text_col).alias("__tk"))
    occ = tk.select(
        id_col,
        F.posexplode(shingles(F.col("__tk"), n)).alias("__p", "__g"),
    ).select(id_col, (F.col("__p") + 1).alias("__s"),  # 1-based start
             gram_key(F.col("__g")).alias("__gh"))
    stats = occ.groupBy("__gh").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col).alias("d"),
                       F.col("__s").alias("s"))).alias("__first"),
    )
    rem = occ.join(stats, "__gh").where(
        (F.col("__cnt") >= 2)
        & ~((F.col(id_col) == F.col("__first.d"))
            & (F.col("__s") == F.col("__first.s")))
    ).groupBy(id_col).agg(
        F.array_sort(F.collect_list("__s")).alias("__starts"))
    zero = F.struct(F.lit("").alias("o"),
                    F.lit(1).cast("int").alias("cur"),
                    F.lit(0).cast("int").alias("rm"))

    def step(acc, s):
        emit = F.concat_ws(" ", F.slice(
            F.col("__tk"), acc["cur"],
            F.greatest(s.cast("int") - acc["cur"], F.lit(0))))
        joined = (F.when(emit == "", acc["o"])
                  .when(acc["o"] == "", emit)
                  .otherwise(F.concat(acc["o"], F.lit(" "), emit)))
        covered = F.greatest(
            s.cast("int") + n - F.greatest(acc["cur"], s.cast("int")),
            F.lit(0))
        return F.struct(
            joined.alias("o"),
            F.greatest(acc["cur"], s.cast("int") + n).alias("cur"),
            (acc["rm"] + covered).alias("rm"))

    def fin(acc):
        tail = F.concat_ws(" ", F.slice(
            F.col("__tk"), acc["cur"],
            F.greatest(F.size("__tk") - acc["cur"] + 1, F.lit(0))))
        joined = (F.when(tail == "", acc["o"])
                  .when(acc["o"] == "", tail)
                  .otherwise(F.concat(acc["o"], F.lit(" "), tail)))
        return F.struct(joined.alias("o"), acc["rm"].alias("rm"))

    rebuilt = tk.join(rem, id_col).select(
        id_col,
        F.aggregate("__starts", zero, step, fin).alias("__r"),
    ).select(id_col, F.col("__r.o").alias("__clean"),
             F.col("__r.rm").alias("__rm"))
    return docs.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("__clean", F.col(text_col)).alias("clean_text"),
        F.coalesce("__rm", F.lit(0)).cast("bigint").alias("n_removed"),
    )


def remove_duplicate_spans_sql(src: str = "documents",
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               n: int = 5) -> str:
    """DuckDB mirror of :func:`remove_duplicate_spans`: same grams, same
    first-occurrence rule (ROW_NUMBER over (doc, start)), but the
    rebuild is PURE RELATIONAL — token positions of touched docs
    range-join the removal intervals, kept = uncovered positions
    reassembled in order, removed = len − kept.  (A first draft
    mirrored the Spark interval fold with list_reduce; DuckDB 1.0.0's
    list_reduce silently corrupts struct accumulators on longer lists —
    a BIGINT field froze after one step, a VARCHAR field resurrected
    dropped text past ~64 elements — so the oracle avoids list folds
    here entirely.  The set-cover formulation is equal to the interval
    merge by construction: both keep exactly the positions no
    duplicated gram covers.)"""
    from map_reduce_folds_spark.operators.text import hash60_sql

    gram = f"array_to_string(tk[o.gs:o.gs+{n - 1}], ' ')"
    g1 = hash60_sql(gram)
    g2 = hash60_sql(gram, salt="span2")
    return f"""
    WITH tk AS (SELECT {id_col}, string_split({text_col}, ' ') AS tk
                FROM {src}),
    occ AS (
        SELECT {id_col}, o.gs AS s, {g1} AS gh1, {g2} AS gh2
        FROM tk, LATERAL (
            SELECT unnest(generate_series(1, len(tk) - {n - 1})) AS gs) o
        WHERE len(tk) >= {n}
    ),
    st AS (
        SELECT {id_col}, s,
               COUNT(*) OVER (PARTITION BY gh1, gh2) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY gh1, gh2
                                  ORDER BY {id_col}, s) AS rn
        FROM occ
    ),
    rem AS (SELECT {id_col}, s FROM st WHERE cnt >= 2 AND rn > 1),
    pos AS (
        SELECT t.{id_col}, p.p AS p, t.tk[p.p] AS tok, len(t.tk) AS nt
        FROM tk t
        JOIN (SELECT DISTINCT {id_col} FROM rem) rd USING ({id_col}),
        LATERAL (SELECT unnest(generate_series(1, len(t.tk))) AS p) p
    ),
    covered AS (
        SELECT DISTINCT p.{id_col}, p.p
        FROM pos p JOIN rem r
          ON r.{id_col} = p.{id_col}
         AND p.p BETWEEN r.s AND r.s + {n - 1}
    ),
    fin AS (
        SELECT p.{id_col},
               COALESCE(array_to_string(
                   list(CASE WHEN c.p IS NULL THEN p.tok END
                        ORDER BY p.p) FILTER (c.p IS NULL), ' '),
                   '') AS clean_text,
               ANY_VALUE(p.nt)
                   - COUNT(*) FILTER (c.p IS NULL) AS n_removed
        FROM pos p LEFT JOIN covered c
          ON c.{id_col} = p.{id_col} AND c.p = p.p
        GROUP BY 1
    )
    SELECT d.{id_col},
           COALESCE(fin.clean_text, d.{text_col}) AS clean_text,
           CAST(COALESCE(fin.n_removed, 0) AS BIGINT) AS n_removed
    FROM {src} d LEFT JOIN fin USING ({id_col})
    """


def shingle_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    token_pattern: str | None = None,
) -> DataFrame:
    """ALL ordered-by-id pairs where either document's shingle set is
    ``threshold``-contained in the union — ASYMMETRIC near-duplication:
    containment C(A→B) = |A ∩ B| / |A| catches a short document quoted
    or embedded wholesale inside a long one, which symmetric Jaccard
    (|∩|/|∪|) misses whenever the host is much larger (J ≈ |A|/|B| → 0).
    The quote/subset detector a training-corpus dedup pass runs next to
    :func:`ngram_jaccard_pairs` (Broder's containment, public
    literature).

    Same inverted-index shape and skew guard as
    :func:`ngram_jaccard_pairs`: cost ∝ Σ_shingle bucket², and
    ``max_shingle_df`` drops hot shingles from CANDIDATE GENERATION only
    (surviving pairs re-score against full sets, so emitted values are
    exact).  Output: ``(id_a, id_b, common, sz_a, sz_b, containment)``
    with containment = max of the two directions (= common / min size),
    one integer division — bitwise portable, no rounding needed."""
    sh = docs.select(
        F.col(id_col),
        distinct_shingle_hashes(text_col, n, token_pattern=token_pattern)
        .alias("sh"),
    ).filter(F.size("sh") > 0)
    sizes = sh.select(F.col(id_col), F.size("sh").alias("sz"))
    inv = sh.select(F.col(id_col), F.explode("sh").alias("h"))
    if max_shingle_df is not None:
        cool = (
            inv.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df).select("h")
        )
        inv = inv.join(cool, "h")
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if max_shingle_df is not None:
        sets_a = sh.select(F.col(id_col).alias("id_a"),
                           F.col("sh").alias("sh_a"))
        sets_b = sh.select(F.col(id_col).alias("id_b"),
                           F.col("sh").alias("sh_b"))
        scored = (
            cand.select("id_a", "id_b")
            .join(sets_a, "id_a").join(sets_b, "id_b")
            .select(
                "id_a", "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
                F.size("sh_a").alias("sz_a"), F.size("sh_b").alias("sz_b"),
            )
        )
    else:
        scored = (
            cand
            .join(sizes.withColumnRenamed(id_col, "id_a")
                       .withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed(id_col, "id_b")
                       .withColumnRenamed("sz", "sz_b"), "id_b")
        )
    out = scored.select(
        "id_a", "id_b",
        F.col("common").cast("bigint").alias("common"),
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        (F.col("common").cast("double")
         / F.least("sz_a", "sz_b")).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)


def ngram_jaccard_pairs_factored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    token_pattern: str | None = None,
) -> DataFrame:
    """IDENTICAL pair set to :func:`ngram_jaccard_pairs` (no df cap) —
    the distinct-SET factoring of the shingle inverted index, the same
    move as :func:`simhash_near_dup_pairs_factored`: on duplicate-heavy
    corpora the index bucket join is quadratic in per-shingle document
    frequency, but Jaccard is a function of the shingle SET alone, so
    the pair set factors exactly:

    * SAME-SET doc pairs are jaccard-1.0 by definition — emitted from
      one self-join on the sorted shingle array (the grouping key is
      the ARRAY itself, not a hash of it — no collision caveat);
    * CROSS-SET pairs run the inverted index over one representative
      per distinct set and expand back through two membership joins
      (the score depends only on the sets, so every expanded pair
      carries the rep pair's exact double).

    Equality with the unfactored form is property-tested
    (tests/test_llm.py).  The ``max_shingle_df`` skew guard is NOT
    offered here: its doc-frequency semantics differ between doc-level
    and set-level counting, and the factoring already removes the
    duplicate-driven occupancy the cap exists to bound — for
    boilerplate-driven (cross-set) hot shingles, use the capped
    unfactored form."""
    from map_reduce_folds_spark.operators.text import (
        distinct_shingle_hashes,
    )

    sh = docs.select(
        F.col(id_col),
        distinct_shingle_hashes(text_col, n,
                                token_pattern=token_pattern).alias("sh"),
    ).filter(F.size("sh") > 0)
    keyed = sh.select(F.col(id_col), F.array_sort("sh").alias("__key")) \
        .localCheckpoint(eager=False)
    reps = keyed.groupBy("__key").agg(F.min(id_col).alias("__rep"))
    members = keyed.join(reps, "__key") \
        .select(F.col(id_col), "__rep").localCheckpoint(eager=False)
    m1, m2 = members.alias("m1"), members.alias("m2")
    same = (
        m1.join(m2, (F.col("m1.__rep") == F.col("m2.__rep"))
                & (F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}")))
        .select(F.col(f"m1.{id_col}").alias("id_a"),
                F.col(f"m2.{id_col}").alias("id_b"),
                F.lit(1.0).alias("jaccard"))
        .filter(F.lit(1.0) >= threshold)
    )
    rep_sets = (
        keyed.join(reps, "__key")
        .where(F.col(id_col) == F.col("__rep"))
        .select(F.col("__rep").alias("rid"), F.col("__key").alias("rsh"))
    )
    sizes = rep_sets.select("rid", F.size("rsh").alias("sz"))
    inv = rep_sets.select("rid", F.explode("rsh").alias("h"))
    a, b = inv.alias("a"), inv.alias("b")
    rep_pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.rid") < F.col("b.rid")))
        .groupBy(F.col("a.rid").alias("ra"), F.col("b.rid").alias("rb"))
        .agg(F.count(F.lit(1)).alias("common"))
        .join(sizes.withColumnRenamed("rid", "ra")
                   .withColumnRenamed("sz", "sz_a"), "ra")
        .join(sizes.withColumnRenamed("rid", "rb")
                   .withColumnRenamed("sz", "sz_b"), "rb")
        .select("ra", "rb",
                (F.col("common").cast("double")
                 / (F.col("sz_a") + F.col("sz_b") - F.col("common")))
                .alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    cross = (
        rep_pairs
        .join(members.select(F.col("__rep").alias("ra"),
                             F.col(id_col).alias("__ia")), "ra")
        .join(members.select(F.col("__rep").alias("rb"),
                             F.col(id_col).alias("__ib")), "rb")
        .select(F.least(F.col("__ia"), F.col("__ib")).alias("id_a"),
                F.greatest(F.col("__ia"), F.col("__ib")).alias("id_b"),
                "jaccard")
    )
    return same.unionByName(cross)


def shingle_containment_pairs_factored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    token_pattern: str | None = None,
) -> DataFrame:
    """IDENTICAL output to :func:`shingle_containment_pairs` (no df cap)
    via the distinct-SET factoring of
    :func:`ngram_jaccard_pairs_factored`: containment is a function of
    the two shingle sets alone, so same-set doc pairs emit
    ``(sz, sz, sz, 1.0)`` cliques directly and the inverted index runs
    over one representative per distinct set, expanding scores back
    through two membership joins.  Property-tested equal
    (tests/test_llm.py)."""
    from map_reduce_folds_spark.operators.text import (
        distinct_shingle_hashes,
    )

    sh = docs.select(
        F.col(id_col),
        distinct_shingle_hashes(text_col, n,
                                token_pattern=token_pattern).alias("sh"),
    ).filter(F.size("sh") > 0)
    keyed = sh.select(F.col(id_col), F.array_sort("sh").alias("__key")) \
        .localCheckpoint(eager=False)
    reps = keyed.groupBy("__key").agg(F.min(id_col).alias("__rep"))
    members = keyed.join(reps, "__key") \
        .select(F.col(id_col), "__rep").localCheckpoint(eager=False)
    grp_sz = keyed.select(F.col(id_col), F.size("__key").alias("__sz"))
    m1 = members.join(grp_sz, id_col).alias("m1")
    m2 = members.join(grp_sz, id_col).alias("m2")
    same = (
        m1.join(m2, (F.col("m1.__rep") == F.col("m2.__rep"))
                & (F.col(f"m1.{id_col}") < F.col(f"m2.{id_col}")))
        .select(F.col(f"m1.{id_col}").alias("id_a"),
                F.col(f"m2.{id_col}").alias("id_b"),
                F.col("m1.__sz").cast("bigint").alias("common"),
                F.col("m1.__sz").cast("bigint").alias("sz_a"),
                F.col("m2.__sz").cast("bigint").alias("sz_b"),
                F.lit(1.0).alias("containment"))
        .filter(F.lit(1.0) >= threshold)
    )
    rep_sets = (
        keyed.join(reps, "__key")
        .where(F.col(id_col) == F.col("__rep"))
        .select(F.col("__rep").alias("rid"), F.col("__key").alias("rsh"))
    )
    sizes = rep_sets.select("rid", F.size("rsh").alias("sz"))
    inv = rep_sets.select("rid", F.explode("rsh").alias("h"))
    a, b = inv.alias("a"), inv.alias("b")
    rep_pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.rid") < F.col("b.rid")))
        .groupBy(F.col("a.rid").alias("ra"), F.col("b.rid").alias("rb"))
        .agg(F.count(F.lit(1)).alias("common"))
        .join(sizes.withColumnRenamed("rid", "ra")
                   .withColumnRenamed("sz", "sz_a"), "ra")
        .join(sizes.withColumnRenamed("rid", "rb")
                   .withColumnRenamed("sz", "sz_b"), "rb")
        .select("ra", "rb",
                F.col("common").cast("bigint").alias("common"),
                F.col("sz_a").cast("bigint").alias("sz_a"),
                F.col("sz_b").cast("bigint").alias("sz_b"),
                (F.col("common").cast("double")
                 / F.least("sz_a", "sz_b")).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
    # expansion: member pairs inherit the rep pair's exact row, but
    # (sz_a, sz_b) must follow the ID ordering of the EXPANDED pair —
    # swap when the member ids invert the rep orientation
    swap = F.col("__ia") > F.col("__ib")
    cross = (
        rep_pairs
        .join(members.select(F.col("__rep").alias("ra"),
                             F.col(id_col).alias("__ia")), "ra")
        .join(members.select(F.col("__rep").alias("rb"),
                             F.col(id_col).alias("__ib")), "rb")
        .select(F.least(F.col("__ia"), F.col("__ib")).alias("id_a"),
                F.greatest(F.col("__ia"), F.col("__ib")).alias("id_b"),
                "common",
                F.when(swap, F.col("sz_b")).otherwise(F.col("sz_a"))
                .alias("sz_a"),
                F.when(swap, F.col("sz_a")).otherwise(F.col("sz_b"))
                .alias("sz_b"),
                "containment")
    )
    return same.unionByName(cross)


def source_overlap_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    token_pattern: str | None = None,
) -> DataFrame:
    """Pairwise CONTENT overlap between corpus sources — the curation
    dashboard's provenance-dedup matrix: for every source pair, how much
    of the smaller source's distinct n-gram inventory also appears in
    the other (mirror sites, scraped re-posts, and shared boilerplate
    show up as high-containment source pairs long before doc-level dedup
    finds the individual copies).

    Shape: one token scan → distinct ``(source, shingle-hash)``
    projection (map-side combinable distinct) → per-source inventory
    sizes → self-join on the hash.  Per-shingle join fan-out is bounded
    by ``|sources|²`` (not corpus size), so the matrix stays linear in
    the shingle relation at any corpus scale; the output is at most
    ``C(|sources|, 2)`` rows.  One integer division — bitwise portable.

    Output: ``(src_a, src_b, common, sz_a, sz_b, containment)`` for all
    pairs sharing ≥ 1 shingle, ``src_a < src_b``."""
    from map_reduce_folds_spark.operators.text import (
        distinct_shingle_hashes,
    )

    sh = docs.select(
        F.col(source_col),
        F.explode(distinct_shingle_hashes(
            text_col, n, token_pattern=token_pattern)).alias("h"),
    ).distinct()
    sizes = sh.groupBy(source_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{source_col}") < F.col(f"b.{source_col}")))
        .groupBy(F.col(f"a.{source_col}").alias("src_a"),
                 F.col(f"b.{source_col}").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common
        .join(sizes.withColumnRenamed(source_col, "src_a")
                   .withColumnRenamed("sz", "sz_a"), "src_a")
        .join(sizes.withColumnRenamed(source_col, "src_b")
                   .withColumnRenamed("sz", "sz_b"), "src_b")
        .select("src_a", "src_b",
                F.col("common").cast("bigint").alias("common"),
                F.col("sz_a").cast("bigint").alias("sz_a"),
                F.col("sz_b").cast("bigint").alias("sz_b"),
                (F.col("common").cast("double")
                 / F.least("sz_a", "sz_b")).alias("containment"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _resolve_bits(docs: DataFrame, bits: int | str,
                  n_docs: int | None = None) -> tuple[int, int | None]:
    """Resolve ``bits="auto"`` to :func:`simhash_auto_bits` of the corpus
    size — the family-wide default since round 14 (the session-6 measured
    finding: signature width is a SCALE parameter; a fixed 32-bit default
    birthday-saturates at ~1M docs, chaining 99% of the corpus into one
    component at 6× the wall).  ``n_docs`` skips the sizing count when the
    caller already knows it (cluster drivers do); otherwise ONE ``count()``
    job — metadata-only on a plain parquet scan, never a data read.
    Returns ``(bits, n_docs)`` so the count can be reused downstream
    (e.g. as ``_pigeonhole_sig_pairs``'s ``sig_count``)."""
    if bits == "auto":
        n = n_docs if n_docs is not None else docs.count()
        return simhash_auto_bits(n), n
    return int(bits), n_docs


def simhash(text: Column | str, bits: int = 60) -> Column:
    """SimHash signature: per-token 60-bit hash; bit j of the signature is
    set when more token-hashes have bit j set than not.

    ``bits`` is a SCALE parameter (see :func:`simhash_auto_bits`); this
    column constructor cannot count the corpus, so its default is 60 —
    every informative bit of the per-token hash60, safe at any corpus
    size.  Narrower widths are a memory/SQL-size opt-in for corpora the
    caller has sized (the DataFrame-level entry points default to
    ``bits="auto"`` and size themselves).

    Entirely row-local array expressions — zero shuffles, and exactly
    reproducible in SQL (the oracle generator mirrors this construction).
    Uses distinct tokens (set semantics) to match the Jaccard-style ops."""
    toks = F.array_distinct(tokenize(text))
    hs = F.transform(toks, lambda t: hash60(t))
    ntok = F.size(hs)
    terms = [
        (
            F.when(
                F.size(F.filter(hs, lambda h: h.bitwiseAND(F.lit(1 << j)) != 0)) * 2
                > ntok,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
        ).cast("bigint")
        for j in range(bits)
    ]
    return _reduce(lambda x, y: x + y, terms)


def simhash_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """(id, sig) in ONE vectorized Arrow stage — value-identical to
    ``select(id, simhash(text))`` (equality asserted in tests/test_llm.py),
    but without the interpreted HOF tree: the Catalyst :func:`simhash`
    builds ``bits`` × ``filter(...)`` array expressions per row, all
    interpreted, which dominates the SimHash pipeline's cost the same way
    the MinHash/SRP expression trees did before their Arrow stages
    (:func:`minhash_band_rows`, similarity.srp_bucket_rows).

    Parity is exact by construction: same single-space split, same
    distinct-token set, same md5[:15hex] token hash, same
    majority-per-bit rule — pure integer arithmetic, no floats."""
    import hashlib

    import numpy as np

    id_type = dict(docs.dtypes)[id_col]
    schema = f"{id_col} {id_type}, sig bigint"
    powers = 1 << np.arange(bits, dtype=np.int64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    out.append((doc_id, None))
                    continue
                toks = set(text.split(" "))
                hs = np.fromiter(
                    (int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                     for t in toks),
                    dtype=np.int64, count=len(toks),
                )
                ones = ((hs[:, None] & powers) != 0).sum(axis=0)
                sig = int(powers[ones * 2 > len(hs)].sum())
                out.append((doc_id, sig))
            if out:
                yield pd.DataFrame(out, columns=[id_col, "sig"])

    from map_reduce_folds_spark.sources import spread_small_scan

    # same parallelism floor as minhash_band_rows: per-token md5 on a
    # one-task fixture scan would run single-core (no-op at scale)
    src = spread_small_scan(docs.select(id_col, text_col), id_col)
    return src.mapInPandas(gen, schema=schema)


def simhash_sql(text_expr: str, bits: int = 60) -> str:
    """DuckDB SQL mirroring :func:`simhash` bit-for-bit (oracle generator).
    Default width matches :func:`simhash` (60 — the safe-at-any-scale
    ceiling); registered queries pass an explicit width so the oracle
    string is pinned."""
    h = ("CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)")
    hs = f"list_transform(list_distinct(string_split({text_expr}, ' ')), t -> {h})"
    terms = [
        f"CASE WHEN 2 * len(list_filter(__hs, h -> (h & {1 << j}) != 0)) > len(__hs)"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    ]
    return f"(SELECT {' + '.join(terms)} FROM (SELECT {hs} AS __hs) __t)"


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    materialize: bool = True,
    materialize_path: str | None = None,
    arrow: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    ``bits="auto"`` (default) sizes the signature to the corpus via
    :func:`simhash_auto_bits` — signature width is a scale parameter
    (measured: 32-bit saturates at ~1M docs); pass ``n_docs`` to skip
    the sizing count when the corpus size is known.

    Pigeonhole blocking: split the signature into ``blocks`` bit-blocks;
    any pair within distance < blocks shares at least one exact block →
    join per block, then verify true hamming distance.  Linear candidate
    generation, no cross join.

    ``arrow`` (default) computes signatures in the vectorized
    :func:`simhash_rows` stage; ``arrow=False`` keeps the pure-Catalyst
    :func:`simhash` expression (the differential-check / oracle form —
    both value-identical, asserted in tests).  ``materialize`` persists
    the blocked-signature projection so the signature stage runs ONCE,
    not on both sides of the block self-join (same boundary discipline
    as the MinHash path); ``materialize_path`` writes it to a parquet
    table instead — the cluster-scale form."""
    if blocks != "auto" and max_hamming >= int(blocks):
        raise ValueError("pigeonhole requires max_hamming < blocks")
    bits, n_docs = _resolve_bits(docs, bits, n_docs)
    if arrow:
        s = simhash_rows(docs, id_col, text_col, bits)
    else:
        s = docs.select(F.col(id_col), simhash(text_col, bits).alias("sig"))
    # s is one row per doc, so the sizing count doubles as sig_count
    return _pigeonhole_sig_pairs(
        s, id_col, bits, max_hamming, blocks, materialize, materialize_path,
        sig_count=n_docs)


def _auto_blocks(n: int, bits: int, max_hamming: int,
                 combo_cap: int = 128, max_b: int = 12) -> int:
    """Pick the multi-index block count b minimizing the estimated
    candidate-generation cost ``C(b, b−r)·n + C(b, b−r)·n²/2^keybits``
    (emit rows + expected same-key pairs under uniform signatures, with
    the worst-case smallest key width).  Deterministic in n — the
    100 TB knob: the classic b = r+1 blocking saturates once the corpus
    outgrows its 2^(bits/(r+1)) buckets (measured: 500k docs → 270k
    distinct 32-bit sigs → ~3·10⁹ block-pair candidates at b=4, ~2·10⁶
    at b=8), while larger b trades a C(b, b−r)-way emit for
    exponentially more key space AT IDENTICAL OUTPUT (the pigeonhole
    guarantee needs only ≥ b−r agreeing blocks)."""
    from math import comb

    # ``max_b`` mirrors the plan-size guard in _pigeonhole_sig_pairs
    # (the 2^b canonical-combo table is a plan literal): the search
    # never returns a b the guard would reject (r11 advice — at large
    # max_hamming the cost model could pick b=13 with C(13,2)=78 under
    # the combo cap but over the table cap).
    if max_hamming + 1 > max_b:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} "
            f"blocks, beyond the plan-size cap b <= {max_b}; combination "
            "blocking is the wrong tool at that radius — use a smaller "
            "max_hamming or a candidate-free exact pass")
    best_b, best_cost = max_hamming + 1, None
    for b in range(max_hamming + 1, min(bits, max_b) + 1):
        m = b - max_hamming
        c = comb(b, m)
        if c > combo_cap:
            break
        base, extra = divmod(bits, b)
        if base < 1:
            break
        widths = sorted([base + 1] * extra + [base] * (b - extra))
        keybits = sum(widths[:m])
        cost = c * n + c * n * n / (1 << keybits)
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    return best_b


def _pigeonhole_sig_pairs(
    s: DataFrame,
    id_col: str,
    bits: int,
    max_hamming: int,
    blocks: int | str,
    materialize: bool = True,
    materialize_path: str | None = None,
    sig_count: int | None = None,
) -> DataFrame:
    """Multi-index pigeonhole block join + hamming verify over an
    ``(id, sig)`` frame: the shared candidate core of
    :func:`simhash_near_dup_pairs` (doc-level ids) and
    :func:`simhash_components` (distinct-signature reps).

    Generalized combination blocking (multi-index hamming search, public
    literature): split the signature into ``b`` blocks; a pair within
    hamming ``r`` differs in ≤ r blocks, so it AGREES on ≥ b − r — hence
    it shares at least one (b − r)-subset of blocks, and indexing every
    signature under all ``C(b, b−r)`` subset keys makes the candidate
    join a pure equi-join on (combo id, concatenated block values).  The
    classic r+1-block pigeonhole is exactly the m = 1 special case.  The
    OUTPUT is identical for every valid b (candidates are verified by
    true hamming); only candidate volume changes — which is the whole
    point at scale, where the classic form's 2^(bits/(r+1)) bucket space
    saturates (see :func:`_auto_blocks`).  ``blocks="auto"`` derives b
    from the signature count (``sig_count`` when the caller knows it,
    else one count job)."""
    from itertools import combinations

    from math import comb

    if blocks == "auto":
        n = sig_count if sig_count is not None else s.count()
        blocks = _auto_blocks(n, bits, max_hamming)
    b_ = int(blocks)
    m = b_ - max_hamming
    if m < 1:
        raise ValueError(
            f"blocks={b_} must exceed max_hamming={max_hamming} "
            "(pigeonhole needs at least one agreeing block)")
    # Explicit large `blocks` guard (r10 advice): the combo fan-out
    # C(b, b−r) and the 2^b canonical-combo table are PLAN-LITERAL
    # costs — blocks=24/32 (cheap under the pre-r10 per-block scheme)
    # would build a multi-thousand-way explode and a 2^24+ literal
    # array on the driver.  Bound both by the same combo_cap
    # _auto_blocks enforces plus a table cap; "auto" always satisfies
    # these by construction.
    if comb(b_, m) > 128 or b_ > 12:
        raise ValueError(
            f"blocks={b_} with max_hamming={max_hamming} needs "
            f"C({b_},{m})={comb(b_, m)} combination keys and a "
            f"2^{b_}-entry canonical table — beyond the plan-size cap "
            "(C(b,m) ≤ 128, b ≤ 12). Use blocks=\"auto\" (cost-model "
            "choice, always within the cap) or a smaller block count.")
    base, extra = divmod(bits, b_)
    widths = [base + 1] * extra + [base] * (b_ - extra)
    offs, o = [], 0
    for w in widths:
        offs.append(o)
        o += w

    def combo_key(combo):
        shift, key = 0, None
        for i in combo:
            part = F.shiftright("sig", offs[i]) \
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
            part = F.shiftleft(part, shift)
            key = part if key is None else key + part
            shift += widths[i]
        return key.cast("bigint")

    combos = list(combinations(range(b_), m))
    blocked = s.select(
        id_col, "sig",
        F.explode(F.array(*[
            F.struct(F.lit(ci).alias("blk"), combo_key(cm).alias("bh"))
            for ci, cm in enumerate(combos)
        ])).alias("b"),
    ).select(id_col, "sig", "b.blk", "b.bh")
    if materialize_path is not None:
        blocked = materialize_stage(blocked, materialize_path)
    elif materialize:
        blocked = blocked.localCheckpoint(eager=False)
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col("a.blk").alias("blk"),
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
    )
    # Pair dedup WITHOUT a distinct shuffle: a pair co-keys once per
    # agreeing combo (up to C(b, m) times), but the m SMALLEST agreeing
    # block indices form a unique canonical combo — keep the meeting
    # only when its combo IS that one (the cumulative agreeing-block
    # count up to the combo's largest index equals m: every agreeing
    # block ≤ max(combo) must itself be in the combo, and the combo's
    # own blocks agree by the join).  ORDER MATTERS for plan cost: the
    # cheap bit_count hamming verify runs FIRST so the per-combo test —
    # one xor already shared with the verify, then ≤ b masked-zero
    # tests — touches only true near-pairs' co-key duplicates, and its
    # expression stays a scalar chain (a first-draft 56-wide array
    # lookup of cumulative columns defeated whole-stage codegen and ran
    # 40× slower than the distinct it replaced)."""
    x = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    cand = (cand.withColumn("__x", x)
            .filter(F.bit_count(F.col("__x")) <= max_hamming))
    # agree-mask integer: bit i set iff block i's sig bits agree (the
    # xor is zero under that block's mask) — b shift/mask terms
    amask = None
    for i in range(b_):
        msk = (1 << widths[i]) - 1
        bit = F.when(
            F.shiftright("__x", offs[i]).bitwiseAND(F.lit(msk)) == 0,
            F.lit(1 << i)).otherwise(F.lit(0))
        amask = bit if amask is None else amask + bit
    # literal 2^b-entry table: agree-mask -> canonical combo id (the
    # lexicographic index of the m smallest agreeing blocks; -1 when
    # fewer than m agree, unreachable post-join).  A constant array
    # lookup keeps the whole filter a handful of codegen'd ops — the
    # first-draft per-combo when-chain of cumulative columns broke
    # whole-stage codegen and ran slower than the distinct it replaced.
    combo_id = {cm: ci for ci, cm in enumerate(combos)}
    table = []
    for a_val in range(1 << b_):
        agree_idx = [i for i in range(b_) if a_val >> i & 1]
        table.append(combo_id[tuple(agree_idx[:m])]
                     if len(agree_idx) >= m else -1)
    canon = F.element_at(
        F.array(*[F.lit(v) for v in table]), amask + 1)
    cand = cand.filter(F.col("blk") == canon)
    return cand.select(
        "id_a", "id_b",
        F.bit_count(F.col("__x")).alias("hamming"))


def simhash_auto_bits(n_docs: int) -> int:
    """Signature width for a corpus of ``n_docs`` — SimHash bits are a
    SCALE PARAMETER, measured in SCALE_BENCH_r13 session-6: at 1M docs
    a 32-bit signature birthday-saturates (random collisions chained
    99% of the fixture's 100× slice into ONE component and cost 6× the
    wall).  Rule: spurious-collision mass across C(n,2) pairs stays
    bounded when bits ≥ 2·log2(n) + margin; clamp to [32, 60] (60 =
    every informative bit of the per-token hash60 — bits beyond 60 are
    constant zero).  Registered queries pin bits statically so their
    SQL oracles stay fixed; use this helper when sizing a NEW corpus
    job driver-side."""
    import math

    if n_docs < 2:
        return 32
    return max(32, min(60, 2 * math.ceil(math.log2(n_docs)) + 8))


def simhash_components(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    n_docs: int | None = None,
    **cc_kw,
) -> DataFrame:
    """``(node, component)`` of the SimHash near-dup graph — identical
    output to ``connected_components(simhash_near_dup_pairs(...))`` but
    with candidate generation over DISTINCT SIGNATURES, not documents.

    Duplicate-heavy corpora make near-dup clusters near-cliques, so the
    doc-level pair set is quadratic in cluster size (measured 2.1M pairs
    for 4.7k clustered docs at sf0.1) while carrying no extra
    connectivity.  Hamming distance is a function of the signature alone,
    so the doc graph factors EXACTLY through the signature graph:

    * docs sharing a signature are hamming-0 near-dups → connect them by
      a STAR to the signature's min-id rep (|docs| − |sigs| edges, not
      Σ group², and the star's diameter-2 shape converges CC faster);
    * doc pairs across different signatures exist iff the corresponding
      REP pair passes the same pigeonhole+verify — run it over the
      distinct-sig rep table (measured 58k sig-level vs 2.1M doc-level
      pairs at sf0.1, −37×).

    Every doc-graph edge maps to a path in the star∪rep-pair graph and
    vice versa, so components — and their min-id labels — are equal
    (property-tested against the doc-level construction).  ``cc_kw``
    passes through to :func:`graph.connected_components`
    (``checkpoint_dir=``, ``max_iter=``)."""
    from map_reduce_folds_spark.operators.graph import connected_components

    bits, n_docs = _resolve_bits(docs, bits, n_docs)
    s = simhash_rows(docs, id_col, text_col, bits) \
        .localCheckpoint(eager=False)
    reps = s.groupBy("sig").agg(F.min(id_col).alias("rep"))
    star = (
        s.join(reps, "sig")
        .where(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    rep_pairs = _pigeonhole_sig_pairs(
        reps.withColumnRenamed("rep", id_col), id_col, bits, max_hamming,
        blocks,
    ).select("id_a", "id_b")
    return connected_components(star.unionByName(rep_pairs), "id_a", "id_b",
                                **cc_kw)


# ---------------------------------------------------------------------------
# Line-level corpus dedup (C4 / RefinedWeb style)
# ---------------------------------------------------------------------------
#
# Reference analog: none (north-star LLM-pipeline surface).  The classic
# C4 cleaning rule: a line that occurs more than once ANYWHERE in the
# corpus is boilerplate (headers, footers, cookie banners) — keep only its
# globally-first occurrence and drop every other copy, then re-join each
# document from its surviving lines.  Unlike doc-level dedup (exact /
# MinHash / SimHash above) this REWRITES documents instead of dropping
# them.
#
# 100 TB shape: one shuffle on the 60-bit line digest (min-struct
# aggregation, map-side combinable), one digest-co-partitioned join back,
# one per-document regroup bounded by document size.  No Python, no
# collects, no cross joins; boilerplate "hot lines" concentrate on single
# digests but carry only a (doc_id, line_no) pair per row into the
# min-aggregation, which partial-aggregates them away map-side.


def _quote_sep(sep: str) -> str:
    """Regex-quote a literal separator for F.split (which takes a Java
    regex): wrap in \\Q…\\E so ``sep="."`` splits on dots, not on
    every character.  Separators containing the literal sequence
    ``\\E`` are rejected rather than mis-quoted."""
    if "\\E" in sep:
        raise ValueError(r"separator may not contain the sequence \E")
    return "\\Q" + sep + "\\E"


def split_lines(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Explode documents into ``(id, line_no, line)`` rows on a LITERAL
    separator (regex-quoted internally — ``sep="."`` means a dot).
    ``line_no`` is the 0-based position within the document (the
    encounter order the keep-first rule uses)."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _quote_sep(sep), -1)
        ).alias("line_no", "line"),
    ).withColumn("line_no", F.col("line_no").cast("bigint"))


def pseudo_lines(
    df: DataFrame, id_col: str, text_col: str, size: int = 10
) -> DataFrame:
    """``(id, line_no, line)`` rows from NON-overlapping fixed-size token
    windows — the line unit for corpora whose documents carry no literal
    line breaks (e.g. the space-normalized test fixtures).  Same output
    contract as :func:`split_lines`, so every downstream step is shared."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col), toks.alias("__tk"),
        F.posexplode(
            F.sequence(F.lit(1), F.size(toks), F.lit(size))
        ).alias("line_no", "__start"),
    ).select(
        id_col,
        F.col("line_no").cast("bigint").alias("line_no"),
        F.array_join(F.slice("__tk", F.col("__start"), size), " ").alias("line"),
    )


def line_dedup_keep_first(
    lines: DataFrame,
    id_col: str,
    order_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """Keep only the corpus-globally FIRST occurrence of every distinct
    line, first = minimal ``(id, order)`` pair (deterministic; also removes
    within-document repeats).  Grouping key is the portable 60-bit line
    digest: the min-struct aggregation partial-aggregates hot boilerplate
    lines map-side, and the join back is digest-co-partitioned (one
    shuffle each).

    Digest COLLISIONS are verified away (the verify-after discipline of
    ``ngram_jaccard_pairs``): the first-occurrence row carries its line
    text, and a row whose digest matches but whose LINE differs survives
    — a distinct line is never deleted by a 60-bit collision.  (Three-plus
    distinct lines on one digest would keep every copy of the later ones —
    at ~n²/2⁶¹ expected collisions the residual is negligible and errs
    toward keeping data.)"""
    with_h = lines.withColumn("__lh", hash60(line_col))
    # (id, order) is unique per row, so the (i, o)-prefixed struct min
    # also carries the first occurrence's LINE for the equality verify
    first = with_h.groupBy("__lh").agg(
        F.min(F.struct(
            F.col(id_col).alias("i"), F.col(order_col).alias("o"),
            F.col(line_col).alias("l"),
        )).alias("__first")
    )
    is_first = (F.col(id_col) == F.col("__first.i")) \
        & (F.col(order_col) == F.col("__first.o"))
    collision_survivor = F.col(line_col) != F.col("__first.l")
    return (
        with_h.join(first, "__lh")
        .where(is_first | collision_survivor)
        .drop("__lh", "__first")
    )


def reassemble_lines(
    kept: DataFrame,
    id_col: str,
    order_col: str = "line_no",
    line_col: str = "line",
    sep: str = "\n",
    text_col: str = "new_text",
) -> DataFrame:
    """Re-join each document's surviving lines in original order:
    ``(id, n_kept, <text_col>)``.  Per-document collect_list is bounded by
    document size (the same bound the chunking pass already holds)."""
    pair = F.struct(F.col(order_col).alias("o"), F.col(line_col).alias("l"))
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["l"]),
            sep,
        ).alias(text_col),
    )


def dedup_lines_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    pseudo_line_tokens: int | None = None,
) -> DataFrame:
    """End-to-end line-level corpus dedup: split (literal ``sep``, or
    fixed-token pseudo-lines when ``pseudo_line_tokens`` is set) →
    keep-first → reassemble.  Returns every input document as
    ``(id, n_lines, n_kept, new_text)`` — documents whose every line was
    seen earlier survive with ``n_kept = 0`` and an empty rewrite (the
    caller decides whether to drop empties)."""
    if pseudo_line_tokens is not None:
        lines = pseudo_lines(df, id_col, text_col, pseudo_line_tokens)
        n_lines = F.size(F.sequence(
            F.lit(1), F.size(F.split(F.col(text_col), " ")),
            F.lit(pseudo_line_tokens)))
    else:
        lines = split_lines(df, id_col, text_col, sep)
        n_lines = F.size(F.split(F.col(text_col), _quote_sep(sep), -1))
    kept = line_dedup_keep_first(lines, id_col)
    joined = sep if pseudo_line_tokens is None else " "
    re = reassemble_lines(kept, id_col, sep=joined)
    return (
        df.select(id_col, n_lines.cast("bigint").alias("n_lines"))
        .join(re, id_col, "left")
        .select(
            id_col, "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def simhash_near_dup_pairs_factored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    n_docs: int | None = None,
) -> DataFrame:
    """IDENTICAL pair set to :func:`simhash_near_dup_pairs` — candidate
    generation over DISTINCT signatures instead of documents.

    On duplicate-heavy / low-diversity corpora the doc-level block join
    is quadratic in bucket occupancy: measured 110M candidate rows (OOM
    at the default heap) on the 10× synthetic where the distinct-sig
    join is 18.6M — docs sharing a signature land in the same buckets
    and re-derive each other's candidates.  Hamming distance is a
    function of the signature alone, so the doc pair set factors
    exactly:

    * SAME-SIG doc pairs are hamming-0 near-dups by definition — emitted
      directly from one self-join on ``sig`` (their C(n,2) volume is the
      required OUTPUT, not join overhead);
    * CROSS-SIG doc pairs exist iff the signature pair passes the same
      pigeonhole + verify — run over the distinct-signature relation and
      expanded back through two sig joins.

    Equality with the unfactored form is property-tested
    (tests/test_llm.py)."""
    # lazy localCheckpoint, not persist(): same one-computation reuse
    # across the same/cross branches, but the materialized blocks are
    # RDD-level — the ContextCleaner frees them when the frame is GC'd,
    # where CacheManager-held persist() blocks accumulate for the life of
    # a long session unless every caller remembers to unpersist
    bits, n_docs = _resolve_bits(docs, bits, n_docs)
    s = simhash_rows(docs, id_col, text_col, bits) \
        .localCheckpoint(eager=False)
    same = (
        s.alias("a").join(s.alias("b"),
                          (F.col("a.sig") == F.col("b.sig"))
                          & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"))
    )
    dsig = s.select("sig").distinct().withColumn("__sid", F.col("sig"))
    sig_pairs = _pigeonhole_sig_pairs(
        dsig, "__sid", bits, max_hamming, blocks,
    ).select(F.col("id_a").alias("sig_a"), F.col("id_b").alias("sig_b"),
             "hamming")
    cross = (
        sig_pairs
        .join(s.select(F.col("sig").alias("sig_a"),
                       F.col(id_col).alias("__da")), "sig_a")
        .join(s.select(F.col("sig").alias("sig_b"),
                       F.col(id_col).alias("__db")), "sig_b")
        .select(F.least(F.col("__da"), F.col("__db")).alias("id_a"),
                F.greatest(F.col("__da"), F.col("__db")).alias("id_b"),
                F.col("hamming").cast("int").alias("hamming"))
    )
    return same.unionByName(cross)


def simhash_khop_hops(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    max_hops: int = 4,
    seed=None,
    n_docs: int | None = None,
) -> DataFrame:
    """k-hop BFS over the SimHash near-dup DOC graph, run at SIGNATURE
    level — value-identical to
    ``graph.bfs_hops(simhash_near_dup_pairs_factored(docs), [seed])``
    but the frontier is bounded by |distinct signatures|, not |docs|.

    The doc graph is the signature graph blown up by
    :func:`graph.bfs_hops_factored`'s clique/biclique rule (same-sig
    docs are hamming-0 cliques; verified sig edges are bicliques), so
    hop distances factor exactly — the fix for the khop 10× ratio
    (2.16×, r8 scale bench): on duplicate-heavy corpora the doc-level
    frontier grows with planted cluster size while the sig-level
    frontier does not, the same factoring that took the 10× triangle
    count from OOM to seconds.

    ``seed=None`` picks the minimum doc id that participates in at
    least one near-dup pair (sig group of size ≥ 2, or sig with a
    verified neighbor) — the khop_doc_neighborhood convention.  Returns
    ``(id_col → "node", hops int)`` like :func:`graph.bfs_hops`; empty
    frame (never a crash) on a pair-free corpus with ``seed=None``."""
    from map_reduce_folds_spark.operators.graph import bfs_hops_factored

    spark = docs.sparkSession
    bits, n_docs = _resolve_bits(docs, bits, n_docs)
    s = simhash_rows(docs, id_col, text_col, bits) \
        .localCheckpoint(eager=True)
    grp = s.groupBy("sig").agg(F.count(F.lit(1)).alias("n"))
    dsig = grp.select("sig").withColumn("__sid", F.col("sig"))
    sig_pairs = _pigeonhole_sig_pairs(
        dsig, "__sid", bits, max_hamming, blocks, materialize=False,
    ).select(F.col("id_a").alias("sa"), F.col("id_b").alias("sb")) \
        .localCheckpoint(eager=True)
    if seed is None:
        # a doc participates in ≥1 pair iff its sig group has a co-member
        # or its sig has a verified neighbor
        edge_sigs = (
            sig_pairs.select(F.col("sa").alias("sig"))
            .union(sig_pairs.select(F.col("sb").alias("sig"))).distinct()
        )
        part = grp.where(F.col("n") >= 2).select("sig") \
            .union(edge_sigs).distinct()
        seed = (
            s.join(part, "sig")
            .agg(F.min(id_col)).first()[0]
        )
        if seed is None:
            id_type = dict(docs.dtypes)[id_col]
            return spark.createDataFrame([], f"node {id_type}, hops int")
    membership = s.select(F.col(id_col).alias("node"),
                          F.col("sig").alias("grp"))
    return bfs_hops_factored(
        membership, sig_pairs, seed,
        node_col="node", grp_col="grp", src="sa", dst="sb",
        max_hops=max_hops)


def simhash_triangle_count_factored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    n_docs: int | None = None,
) -> DataFrame:
    """Exact triangle count of the SimHash near-dup DOC graph computed
    ARITHMETICALLY from the signature graph — one row
    ``(n_triangles)``, equal to
    ``graph.triangle_count(simhash_near_dup_pairs(...))`` but never
    materializing the blown-up doc graph (whose near-clique wedge volume
    is cubic in cluster size — the honest-cost note on
    ``triangle_count``).

    The doc graph is the signature graph with each signature node blown
    up into an ``n_s``-clique (same-sig docs are hamming-0 pairs) and
    each verified sig edge into a complete bipartite join, so its
    triangles decompose exactly by signature multiset:

    * {s,s,s}: C(n_s, 3) per signature;
    * {s,s,t}, (s,t) a sig edge: C(n_s,2)·n_t + C(n_t,2)·n_s;
    * {s,t,u} pairwise sig edges: n_s·n_t·n_u — sig-level triangles
      enumerated by :func:`graph.triangle_list` over the (tiny)
      distinct-signature graph.

    Costs one sig-level pigeonhole join + one sig-level triangle
    enumeration + three broadcast-sized group joins; the doc-level
    C(n,2)/C(n,3) volumes become per-row arithmetic."""
    from map_reduce_folds_spark.operators.graph import triangle_list

    # lazy localCheckpoints (not persist): reused across the t1/t2/t3
    # branches within the consuming action, and the blocks are GC-cleaned
    # instead of accumulating in the CacheManager across a long session
    bits, n_docs = _resolve_bits(docs, bits, n_docs)
    s = simhash_rows(docs, id_col, text_col, bits) \
        .localCheckpoint(eager=False)
    grp = s.groupBy("sig").agg(F.count(F.lit(1)).alias("n")) \
        .localCheckpoint(eager=False)
    # exact integer arithmetic, staged against int64 overflow: n(n-1) is
    # even so DIV 2 first (exact, fits bigint to n≈3e9), then the last
    # factor rides a DECIMAL(38,0) product — n(n-1)(n-2) wraps int64 at
    # n≈2.1M, exactly the template-page multiplicities the factoring
    # serves.  /3 of the decimal is exact (the staged product is a
    # multiple of 3).  A double division would also round past 2^53.
    t1 = grp.agg(F.coalesce(F.sum(
        F.expr("CAST(n * (n - 1) DIV 2 AS DECIMAL(38,0)) * (n - 2) / 3")
    ), F.lit(0)).cast("decimal(38,0)").alias("t"))
    dsig = grp.select("sig").withColumn("__sid", F.col("sig"))
    sig_pairs = _pigeonhole_sig_pairs(
        dsig, "__sid", bits, max_hamming, blocks,
    ).select(F.col("id_a").alias("sa"), F.col("id_b").alias("sb")) \
        .localCheckpoint(eager=False)
    ga = grp.select(F.col("sig").alias("sa"), F.col("n").alias("na"))
    gb = grp.select(F.col("sig").alias("sb"), F.col("n").alias("nb"))
    t2 = (
        sig_pairs.join(ga, "sa").join(gb, "sb")
        .agg(F.coalesce(F.sum(
            F.expr("CAST(na * (na - 1) DIV 2 AS DECIMAL(38,0)) * nb"
                   " + CAST(nb * (nb - 1) DIV 2 AS DECIMAL(38,0)) * na")
        ), F.lit(0)).cast("decimal(38,0)").alias("t"))
    )
    tris = triangle_list(sig_pairs, "sa", "sb")
    gx = grp.select(F.col("sig").alias("x"), F.col("n").alias("nx"))
    gy = grp.select(F.col("sig").alias("y"), F.col("n").alias("ny"))
    gz = grp.select(F.col("sig").alias("z"), F.col("n").alias("nz"))
    t3 = (
        tris.join(gx, "x").join(gy, "y").join(gz, "z")
        .agg(F.coalesce(F.sum(
            F.expr("CAST(nx AS DECIMAL(19,0)) * ny * nz")),
            F.lit(0)).cast("decimal(38,0)").alias("t"))
    )
    # the OUTPUT count is bigint (every engine's COUNT convention); the
    # intermediates above are decimal so per-group clique volumes cannot
    # wrap on the way in
    total = (
        t1.crossJoin(t2.withColumnRenamed("t", "t2"))
        .crossJoin(t3.withColumnRenamed("t", "t3"))
        .select((F.col("t") + F.col("t2") + F.col("t3"))
                .cast("bigint").alias("n_triangles"))
    )
    return total


def cluster_savings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size_col: str = "n_chars",
    group_col: str = "source",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    pairs: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """The dedup SAVINGS REPORT a curation run ends with: cluster the
    corpus with :func:`simhash_components` (near-dup graph → connected
    components), elect ONE representative per cluster — the largest doc,
    ties to the smallest id (the keep-the-longest policy of classic web
    curation) — and account, per ``group_col``, how many documents and
    how much text the dedup pass removes.  Singleton docs (no near-dup
    edge) are their own cluster and are always kept.

    Rep election is a deterministic arg-min over ``(-size, id)`` structs
    (min-struct = max size, min id — map-side combinable, no window);
    the accounting is one aggregation over docs ⨝ cluster ⨝ rep, both
    joins on the component key.  Output per group: ``n_docs``,
    ``n_kept`` (elected reps homed in this group), ``n_dropped``, and
    ``chars_dropped`` (exact bigint sum of ``size_col`` over dropped
    docs)."""
    if pairs is not None:
        # pluggable near-dup policy: any (id_a, id_b) pair relation —
        # e.g. the prefix-filtered Jaccard join — replaces the SimHash
        # default; the accounting below is policy-agnostic
        from map_reduce_folds_spark.operators.graph import (
            connected_components,
        )

        comp = connected_components(pairs, "id_a", "id_b")
    else:
        comp = simhash_components(docs, id_col, text_col, bits=bits,
                                  n_docs=n_docs,
                                  max_hamming=max_hamming, blocks=blocks)
    # One narrow lazy snapshot of (id, group, size, cluster): the two
    # aggregates below are separate lineages, so without it Catalyst
    # replays the docs ⨝ labels join twice (§3.3, the curation recipe).
    d = (
        docs.select(id_col, group_col, size_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("cluster",
                    F.coalesce(F.col("component"), F.col(id_col)))
        .localCheckpoint(eager=False)
    )
    # r15: the accounting used to join the cluster→rep relation BACK onto
    # the corpus-sized d (at scale: a second corpus shuffle — rep is
    # cluster-count-sized, too big to broadcast).  The per-group metrics
    # are pure arithmetic between two map-side-combinable aggregates
    # instead: a dropped doc's chars are total chars in its group minus
    # the chars of reps HOMED in that group, because kept == rep and the
    # rep's own row carries its group.  The arg-min struct carries the
    # winner's (group, size) along — the (−size, id) prefix already
    # determines a unique winner, so the extra fields change nothing
    # about which row wins.  Exact bigint arithmetic throughout; output
    # values identical (oracle hash-exact on all three consumers).
    per_group = d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(size_col)).cast("bigint").alias("__sum_size"))
    rep = d.groupBy("cluster").agg(
        F.min(F.struct((-F.col(size_col)).alias("a"),
                       F.col(id_col).alias("b"),
                       F.col(group_col).alias("g"),
                       F.col(size_col).alias("s"))).alias("w"))
    kept_by_group = rep.groupBy(
        F.col("w.g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
        F.sum(F.col("w.s")).cast("bigint").alias("__kept_size"))
    z = F.lit(0).cast("bigint")
    return (
        per_group.join(kept_by_group, group_col, "left")
        .select(
            group_col,
            F.col("n_docs"),
            F.coalesce(F.col("__n_kept"), z).alias("n_kept"),
            (F.col("n_docs") - F.coalesce(F.col("__n_kept"), z))
            .cast("bigint").alias("n_dropped"),
            (F.col("__sum_size") - F.coalesce(F.col("__kept_size"), z))
            .cast("bigint").alias("chars_dropped"),
        )
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    token_pattern: str | None = None,
) -> DataFrame:
    """IDENTICAL output to :func:`ngram_jaccard_pairs` (no df cap) via
    PREFIX FILTERING (Bayardo et al. 2007 / PPJoin's candidate rule):
    order every set's shingles by ascending global document frequency
    (rarest first, hash tie-break) and index only each set's first
    ``s − ⌊t·s⌋ + 1`` shingles — any pair with Jaccard ≥ t must share
    an indexed shingle in BOTH prefixes, so the candidate join runs on
    the prefix relation instead of the full inverted index.  Candidates
    are re-scored against the full shingle arrays, so emitted scores are
    bitwise-identical to the unfiltered form; the filter only PRUNES
    candidate generation (property-tested equal, tests/test_llm.py).

    Prefix length uses ``floor`` (one longer than the tight
    ``s − ⌈t·s⌉ + 1``): float rounding in ``t·s`` can then only LENGTHEN
    the prefix, never lose a pair.  Common shingles (boilerplate) sort
    LAST and fall out of every prefix — the frequency ordering does
    organically what ``max_shingle_df`` does by decree, without the
    recall caveat.  Scale shape: one df aggregation, one window sort per
    doc, then the index join over ~(1−t)·Σ|s| rows instead of Σ|s| —
    the win grows with the threshold.

    Round 12 adds PPJoin's other two LOSSLESS prunes before the
    array-verify join (the verify stage — shuffling both full shingle
    arrays per candidate — dominated the 100× wall; both bounds need
    only the sizes/positions already on the prefix rows):

    * LENGTH filter: J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so J ≥ t
      forces min ≥ t·max.
    * POSITIONAL filter: at a candidate pair's FIRST common prefix
      token (positions rn_a, rn_b in the shared global (df, h) order)
      no earlier shingle is common, so the total overlap is bounded by
      1 + min(|a| − rn_a, |b| − rn_b); J ≥ t needs overlap ≥
      ⌈t/(1+t)·(|a|+|b|)⌉.  The bound is LARGEST at the first meeting
      (later meetings have smaller remainders), so filtering every
      occurrence row and taking DISTINCT pairs keeps every true pair.

    Measured at the 100× corpus: 13.0M distinct verify pairs → 1.2M
    (10× fewer full-array joins); wall 36.4 s → 32.1 s — the residual
    is the shared linear pipeline (59M-row inverted index build + df
    join + per-doc rank), not the verify.  Candidates and output both
    grow exactly 10× per decade (counted: 134k/1.34M/13.4M raw
    candidate rows, 256/2 560/25 600 output pairs at 1×/10×/100×,
    SCALE_BENCH_r12) — the operator is linear in the corpus, and the
    per-10× wall ratio dropped 6.77× → 4.56×."""
    sh = docs.select(
        F.col(id_col),
        distinct_shingle_hashes(text_col, n, token_pattern=token_pattern)
        .alias("sh"),
    ).filter(F.size("sh") > 0).localCheckpoint(eager=False)
    inv = sh.select(F.col(id_col), F.explode("sh").alias("h"))
    df_ = inv.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql.window import Window

    wo = Window.partitionBy(id_col).orderBy("__df", "h")
    wn = Window.partitionBy(id_col)
    ranked = inv.join(df_, "h").select(
        F.col(id_col), "h",
        F.row_number().over(wo).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__sz"),
    )
    plen = (F.col("__sz")
            - F.floor(F.lit(float(threshold)) * F.col("__sz")) + 1)
    prefix = ranked.where(F.col("__rn") <= plen).select(
        F.col(id_col), "h", "__sz", "__rn")
    a, b = prefix.alias("a"), prefix.alias("b")
    t = F.lit(float(threshold))
    need = F.ceil(t / (F.lit(1.0) + t)
                  * (F.col("a.__sz") + F.col("b.__sz")))
    ubound = (F.lit(1)
              + F.least(F.col("a.__sz") - F.col("a.__rn"),
                        F.col("b.__sz") - F.col("b.__rn")))
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(F.least("a.__sz", "b.__sz")
               >= t * F.greatest("a.__sz", "b.__sz"))
        .where(ubound >= need)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sets_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sets_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sets_a, "id_a").join(sets_b, "id_b")
        .select("id_a", "id_b",
                (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                 / (F.size("sh_a") + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))))
                .alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_kcore_factored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | str = "auto",
    max_hamming: int = 3,
    blocks: int | str = "auto",
    k: int = 2,
    rounds: int = 6,
    n_docs: int | None = None,
) -> DataFrame:
    """k-CORE of the SimHash near-dup DOC graph via the DISTINCT-
    SIGNATURE factoring — identical output to ``graph.kcore_peel`` over
    :func:`simhash_near_dup_pairs_factored` (property-tested), without
    ever materializing the C(m,2) same-signature doc pairs: all m docs
    behind one signature are structurally identical in the doc graph
    (mutual hamming-0 clique + shared cross-sig edges), so synchronized
    peeling removes them together and the peel runs on the sig graph
    with multiplicities (``graph.kcore_peel_weighted``) — the same
    argument that makes the factored pair generator linear where the
    doc-level join is quadratic in bucket occupancy.

    Output: ``({id_col}, deg)`` — every doc in the final core with its
    doc-level degree inside it.
    """
    from .graph import kcore_peel_weighted  # lazy import

    bits, n_docs = _resolve_bits(docs, bits, n_docs)
    s = simhash_rows(docs, id_col, text_col, bits) \
        .localCheckpoint(eager=False)
    w = s.groupBy("sig").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    dsig = w.select("sig").withColumn("__sid", F.col("sig"))
    sig_edges = _pigeonhole_sig_pairs(
        dsig, "__sid", bits, max_hamming, blocks,
    ).select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    core = kcore_peel_weighted(w.select(F.col("sig").alias("node"), "m"),
                               sig_edges, k=k, rounds=rounds)
    return (s.join(core.select(F.col("node").alias("sig"), "deg"), "sig")
            .select(F.col(id_col).alias("node"), "deg"))
