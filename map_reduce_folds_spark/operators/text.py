"""Text-analysis operators for training-data pipelines (north-star GAP ops).

Everything here is pure Catalyst expressions (no Python UDFs): tokenize,
shingle, portable 60-bit hashing, token counting, quality scoring, language
ID, and document fingerprints.  Staying JVM-side keeps whole-stage codegen
and means a 100 TB corpus scan is bounded by IO, not Python.

Hash portability: ``hash60(s)`` = first 15 hex chars of md5 parsed as int.
md5 is identical in Spark and DuckDB, so every operator built on it has an
exact SQL oracle (unlike xxhash64, which is Spark-private).  15 hex chars =
60 bits keeps values inside a signed BIGINT in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash60(col: Column | str, salt: str = "") -> Column:
    """Portable 60-bit hash (same value computable in DuckDB SQL)."""
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(salt), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str, salt: str = "") -> str:
    """The DuckDB-equivalent SQL text of :func:`hash60` (for oracles)."""
    inner = f"concat('{salt}', {expr})" if salt else expr
    return f"CAST(concat('0x', substr(md5({inner}), 1, 15)) AS BIGINT)"


def tokenize(col: Column | str) -> Column:
    """Canonical tokenization: split on single spaces (fixture documents are
    space-separated).  For real corpora use :func:`tokenize_regex` — every
    shingle/minhash consumer takes a ``token_pattern=`` opt-in."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


#: Default regex tokenizer pattern — word runs or single punctuation marks.
#: Deliberately dialect-portable: identical matches in Java regex (Spark),
#: RE2 (DuckDB), and Python ``re`` compiled with ``re.ASCII`` (the Arrow
#: minhash stage) — no lookaround, no unicode classes.
DEFAULT_TOKEN_PATTERN = r"\w+|[^\w\s]"


def tokenize_regex(col: Column | str,
                   pattern: str = DEFAULT_TOKEN_PATTERN) -> Column:
    """Regex tokenization for real (non-space-normalized) corpora:
    array of all matches of ``pattern``.  Same shape as
    :func:`token_count_regex` but keeps the tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(pattern), 0)


def token_count_regex(col: Column | str, pattern: str = r"\w+|[^\w\s]") -> Column:
    """BPE-ish token-count estimate: count word-or-punctuation matches.

    The pattern is deliberately dialect-portable (works in Java regex and
    RE2/DuckDB identically)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0)).cast("bigint")


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-grams as an array<string>, built JVM-side:
    transform(sequence(1, len-n+1), i -> concat_ws(' ', slice(tokens, i, n))).

    Rows shorter than n yield an empty array (not null)."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def distinct_shingle_hashes(
    text: Column | str,
    n: int = 3,
    salt: str = "",
    token_pattern: str | None = None,
) -> Column:
    """array<bigint> of distinct hashed n-gram shingles — the unit record for
    MinHash / Jaccard work.  array_distinct before hashing keeps set
    semantics.  ``token_pattern`` switches the space-split tokenizer to
    :func:`tokenize_regex` (opt-in for real corpora)."""
    toks = (tokenize(text) if token_pattern is None
            else tokenize_regex(text, token_pattern))
    sh = F.array_distinct(shingles(toks, n))
    return F.array_distinct(F.transform(sh, lambda s: hash60(s, salt)))


def type_token_ratio(tokens: Column) -> Column:
    """Distinct-token ratio — a crude lexical-diversity quality signal."""
    return F.size(F.array_distinct(tokens)).cast("double") / F.size(tokens)


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]:
    0.4·min(n_tokens/50, 1) + 0.4·type_token_ratio + 0.2·short-token penalty.

    Single left-associated double expression → bitwise-reproducible in SQL.
    """
    toks = tokenize(text)
    n = F.size(toks).cast("double")
    lenscore = F.least(n / F.lit(50.0), F.lit(1.0))
    ttr = type_token_ratio(toks)
    shortpen = F.size(F.filter(toks, lambda t: F.length(t) <= 2)).cast("double") / n
    return lenscore * F.lit(0.4) + ttr * F.lit(0.4) + (F.lit(1.0) - shortpen) * F.lit(0.2)


# Tiny marker lexicons for the language-ID heuristic. Chosen as common
# function words of each language — NOT tuned to the fixture corpus.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "with", "for", "data"),
    "de": ("der", "die", "und", "das", "ist", "mit", "von", "daten"),
    "fr": ("le", "la", "et", "les", "est", "avec", "des", "données"),
    "es": ("el", "la", "y", "los", "es", "con", "las", "datos"),
    "zh": ("的", "是", "和", "数据", "表", "值", "查询", "行"),
}


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (array_intersect against each tiny
    lexicon — pure JVM)."""
    return {
        lang: F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Predicted language = argmax of marker scores, 'und' (undetermined)
    when nothing matches.  Deterministic tie-break: language order as listed
    in LANG_MARKERS (first maximal wins via strict > comparison chain)."""
    toks = tokenize(text)
    scores = lang_scores(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores.items():
        take = score > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, score).otherwise(best_score)
    return best_lang


# Scrub patterns chosen for dialect portability (Java regex == RE2/DuckDB):
# plain character classes, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._]+@[a-z0-9.-]+",
    "url": r"https?://[^ ]+",
    "phone": r"\+[0-9]{7,15}",
}


def scrub_pii(text: Column | str, kinds: tuple[str, ...] = ("email", "url", "phone")) -> Column:
    """Replace each PII kind with a ``<KIND>`` placeholder — the corpus
    scrubbing pass.  Pure regexp_replace chain (JVM, codegen'd)."""
    c = F.col(text) if isinstance(text, str) else text
    for kind in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return c


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind match counts (regexp_count) for scrub auditing."""
    c = F.col(text) if isinstance(text, str) else text
    return {kind: F.regexp_count(c, F.lit(pat)).cast("bigint")
            for kind, pat in PII_PATTERNS.items()}


def chunk_starts(tokens: Column, size: int, stride: int) -> Column:
    """1-based start offsets of fixed-size token chunks (last may be
    short): sequence(1, n_tokens, stride)."""
    return F.sequence(F.lit(1), F.size(tokens), F.lit(stride))


def chunk_text(tokens: Column, start: Column, size: int) -> Column:
    """The chunk's text: tokens[start : start+size) re-joined."""
    return F.array_join(F.slice(tokens, start, size), " ")


def doc_fingerprint(text: Column | str) -> Column:
    """Whole-document fingerprint: 60-bit hash of the exact text (the exact
    dedup key).  For near-dup-tolerant fingerprints use
    min-shingle-hash (minhash k=1) from dedup.py."""
    return hash60(text)


def eval_overlap(
    train: "DataFrame",
    eval_df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    token_pattern: str | None = None,
) -> "DataFrame":
    """Per-TRAINING-document overlap with an eval set's n-gram universe:
    ``(id, n_shingles, n_hit, overlap)`` — the scoring half of
    decontamination (``contamination_check`` measures the opposite
    direction: eval docs vs the training universe).

    The eval shingle universe is the SMALL side (eval sets are thousands
    of docs), so the membership test is a broadcastable semi-join against
    the distinct eval hashes and the training pass stays scan-shaped —
    linear in the corpus, no training-side self-structures.  Documents
    with zero shingles score overlap 0 (no evidence)."""
    from pyspark.sql import functions as F

    sh = distinct_shingle_hashes(text_col, n, token_pattern=token_pattern)
    tr = train.select(F.col(id_col), sh.alias("__sh"))
    ev_hashes = (
        eval_df.select(F.explode(
            distinct_shingle_hashes(text_col, n, token_pattern=token_pattern)
        ).alias("h")).distinct()
    )
    tr_sh = tr.select(id_col, F.explode("__sh").alias("h"))
    hits = tr_sh.join(F.broadcast(ev_hashes), "h", "left_semi") \
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("__c"))
    sizes = tr.select(id_col, F.size("__sh").cast("bigint").alias("n_shingles"))
    return sizes.join(hits, id_col, "left").select(
        id_col, "n_shingles",
        F.coalesce("__c", F.lit(0)).cast("bigint").alias("n_hit"),
        F.when(F.col("n_shingles") > 0,
               F.coalesce("__c", F.lit(0)).cast("double")
               / F.col("n_shingles")).otherwise(F.lit(0.0)).alias("overlap"),
    )


def decontaminate(
    train: "DataFrame",
    eval_df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_overlap: float = 0.1,
    token_pattern: str | None = None,
) -> "DataFrame":
    """Drop training documents whose n-gram overlap with the eval set
    exceeds ``max_overlap`` — the REMOVE step of eval decontamination
    (run it before training; ``contamination_check``-style scoring is
    the audit).  Anti-join of the over-threshold ids back onto the full
    training rows, so every surviving row keeps all its columns."""
    from pyspark.sql import functions as F

    scores = eval_overlap(train, eval_df, id_col, text_col, n, token_pattern)
    dirty = scores.where(F.col("overlap") > max_overlap).select(id_col)
    return train.join(dirty, id_col, "left_anti")


def token_entropy(text: Column | str) -> Column:
    """Shannon entropy of the document's OWN token distribution (nats):
    ``−Σ_t (c_t/n)·ln(c_t/n)`` over the doc's token counts — the
    repetitiveness/diversity quality signal (near-zero ⇒ one token
    stamped over and over, generated spam; high ⇒ diverse vocabulary).
    Complements :func:`type_token_ratio` (which only sees distinctness,
    not the shape of the count distribution).

    Entirely row-local array expressions — zero shuffles at any corpus
    size; the summation folds over the SORTED distinct tokens so float
    addition order is pinned on any engine, and the ln-bearing result
    rounds to 9 decimals (the PSI discipline)."""
    toks = tokenize(text)
    n = F.size(toks).cast("double")
    dist = F.array_sort(F.array_distinct(toks))
    terms = F.transform(
        dist,
        lambda t: (
            -(F.size(F.filter(toks, lambda x: x == t)).cast("double") / n)
            * F.log(F.size(F.filter(toks, lambda x: x == t))
                    .cast("double") / n)
        ),
    )
    return F.round(
        F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), 9)


def token_entropy_sql(text_expr: str) -> str:
    """DuckDB mirror of :func:`token_entropy` (same sorted-distinct fold
    order, same 9-decimal round)."""
    t = f"string_split({text_expr}, ' ')"
    c = f"len(list_filter({t}, x -> x = u))"
    p = f"(CAST({c} AS DOUBLE) / len({t}))"
    return (
        f"round(list_reduce(list_prepend(0.0, "
        f"list_sort(list_distinct({t}))"
        f".apply(u -> -{p} * ln({p}))), (acc, x) -> acc + x), 9)"
    )


def winnow_fingerprints(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    salt: str = "",
    token_pattern: str | None = None,
    materialize_path: str | None = None,
) -> "DataFrame":
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS copy-detection scheme, public literature): hash every
    token ``k``-gram, then keep the MINIMUM hash of each window of ``w``
    consecutive grams.  Output ``(id, p, g)`` — the selected gram's
    0-based position and 60-bit portable hash.  Guarantees: any shared
    substring of ``w + k - 1`` tokens yields at least one shared
    fingerprint (every window selects), and expected density is
    ``2/(w+1)`` — the index is a small constant fraction of the gram
    stream, which is what makes fingerprint-based overlap audits feasible
    at corpus scale where storing all grams is not.

    This is the ALL-MINIMA variant: every position achieving a window's
    minimum is selected (the paper's robust variant breaks ties
    rightmost).  The sets differ only when one window holds duplicate
    minimal hashes — i.e. a k-gram repeated within w positions — and
    all-minima never selects fewer, so the coverage guarantee is
    preserved.  The win: selection becomes two bounded window frames over
    plain BIGINTs —

        mn[j] = MIN(g) OVER (doc ORDER BY p ROWS w-1 PRECEDING..CURRENT)
                            (valid once a full window fits: j >= w-1,
                             or the doc's last gram when it has < w)
        selected(p) <=> MAX(mn) OVER (doc ORDER BY p
                            ROWS CURRENT..w-1 FOLLOWING) = g[p]

    since mn[j] <= g[p] for every window j containing p, equality holds
    iff some window elected p.  No structs, no higher-order folds, no
    argmin tie rules — both engines compute it with stock window
    aggregates, so the oracle (:func:`winnow_fingerprints_sql`) is exact.

    Shape (100 TB): gram hashing is row-local (codegen'd HOF over the
    token array); the two frames share one hash-partition-by-doc +
    sort-by-position pass (a single Exchange — Catalyst reuses the sort
    for the second Window, pinned in tests); frames are O(w) regardless
    of document length, so giant documents cost memory O(w), not O(doc).
    Documents with fewer than ``k`` tokens have no grams and emit no
    fingerprints (the paper's domain: n_grams >= 1).

    ``materialize_path`` writes the fingerprint index once as parquet
    and returns a fresh scan (``dedup.materialize_stage``, the
    shared-stage discipline): at corpus scale the
    index feeds every downstream audit (overlap pairs, cross-corpus
    contamination), and re-deriving it per consumer repeats the
    dominant text scan."""
    from pyspark.sql.window import Window

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    toks = (tokenize(text_col) if token_pattern is None
            else tokenize_regex(text_col, token_pattern))
    arr = df.select(
        F.col(id_col),
        F.transform(shingles(toks, k), lambda s: hash60(s, salt)).alias("__gs"),
    )
    gr = arr.select(
        id_col,
        F.size("__gs").alias("__n"),
        F.posexplode("__gs").alias("p", "g"),
    )
    wb = Window.partitionBy(id_col).orderBy("p").rowsBetween(-(w - 1), 0)
    wf = Window.partitionBy(id_col).orderBy("p").rowsBetween(0, w - 1)
    m = gr.withColumn(
        "__mn",
        F.when(F.col("p") >= F.least(F.lit(w), F.col("__n")) - 1,
               F.min("g").over(wb)),
    )
    s = m.withColumn("__fm", F.max("__mn").over(wf))
    out = s.where(F.col("__fm") == F.col("g")).select(id_col, "p", "g")
    if materialize_path is not None:
        from map_reduce_folds_spark.operators.dedup import materialize_stage
        return materialize_stage(out, materialize_path)
    return out


def winnow_fingerprints_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    salt: str = "",
) -> str:
    """DuckDB mirror of :func:`winnow_fingerprints` (space tokenizer):
    same md5-based gram hashes, same two window frames, same validity
    rule — exact, value-for-value."""
    gram = f"array_to_string(tk[i.i+1:i.i+{k}], ' ')"
    h = hash60_sql(gram, salt)
    return f"""
    WITH tk AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS tk FROM {src}
    ),
    g AS (
        SELECT {id_col}, len(tk) - ({k} - 1) AS n, i.i AS p, {h} AS g
        FROM tk, LATERAL (
            SELECT unnest(range(len(tk) - ({k} - 1))) AS i) i
        WHERE len(tk) >= {k}
    ),
    m AS (
        SELECT {id_col}, p, g,
               CASE WHEN p >= least({w}, n) - 1 THEN
                   MIN(g) OVER (PARTITION BY {id_col} ORDER BY p
                                ROWS BETWEEN {w} - 1 PRECEDING
                                         AND CURRENT ROW)
               END AS mn
        FROM g
    ),
    s AS (
        SELECT {id_col}, p, g,
               MAX(mn) OVER (PARTITION BY {id_col} ORDER BY p
                             ROWS BETWEEN CURRENT ROW
                                      AND {w} - 1 FOLLOWING) AS fm
        FROM m
    )
    SELECT {id_col}, p, g FROM s WHERE fm = g
    """


def winnow_overlap_pairs(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 10,
    salt: str = "",
    token_pattern: str | None = None,
    fps: "DataFrame | None" = None,
) -> "DataFrame":
    """MOSS-style copy-detection pairs: documents sharing at least
    ``min_shared`` winnowing fingerprints, with the shared count —
    ``(id_a, id_b, shared)``, ``id_a < id_b``.  The fingerprint overlap
    audit run on submissions/corpora to surface likely copies without
    an all-grams index (winnowing keeps ~``2/(w+1)`` of the grams).

    ``max_df`` drops fingerprints present in more than that many
    documents before the pair join — boilerplate grams (headers, license
    blocks) otherwise dominate: a fingerprint in d documents contributes
    d·(d−1)/2 candidate rows, so the join's output is bounded by
    ``max_df · |fingerprints|`` rather than Σd² (the
    ``max_shingle_df`` discipline from the Jaccard family).  Pass a
    precomputed ``fps=`` (e.g. a :func:`winnow_fingerprints` table
    materialized once) to skip re-fingerprinting.  At the
    100M-fingerprint scale
    pass ``fps=`` a parquet index (``winnow_fingerprints
    materialize_path``): a disk-backed stage boundary — an in-memory
    localCheckpoint of the fingerprint relation was measured to OOM
    both 8g and 32g sessions at 1000× (the block-manager-vs-disk
    boundary lesson, SCALE.md)."""
    fp = fps if fps is not None else winnow_fingerprints(
        df, id_col, text_col, k, w, salt, token_pattern)
    # the skinny (id, g) relation feeds the df-cap count AND both sides
    # of the pair join; ReuseExchange shares the distinct's shuffle
    # across those lineages.  DELIBERATELY no localCheckpoint here: a
    # corpus-scale fingerprint relation cached deserialized in the block
    # manager is a heap cliff (measured: 101M fingerprints OOM'd an 8g
    # AND a 32g session in the checkpoint materialization stage, while
    # the un-checkpointed plan runs) — the durable boundary at scale is
    # a parquet index passed via ``fps=`` (winnow_fingerprints
    # materialize_path), a disk-backed scan, not block-manager memory
    d = fp.select(id_col, "g").distinct()
    dfc = d.groupBy("g").agg(F.count(F.lit(1)).alias("__c"))
    e = d.join(dfc.where(F.col("__c") <= max_df).select("g"), "g")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def winnow_contamination(
    train: "DataFrame",
    eval_df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    salt: str = "",
    token_pattern: str | None = None,
    fps: "DataFrame | None" = None,
) -> "DataFrame":
    """Per-TRAINING-document contamination score against an eval set's
    WINNOWING-fingerprint universe: ``(id, n_fp, n_hit, overlap)`` —
    :func:`eval_overlap` re-based on the winnowed index.  The trade the
    paper's guarantee makes exact: any shared run of ``w + k - 1``
    tokens still registers at least one shared fingerprint (coverage),
    while both sides carry only ~``2/(w+1)`` of their grams — at corpus
    scale that is the difference between scanning the full shingle
    relation per audit and probing a small materialized index
    (``fps=`` accepts a :func:`winnow_fingerprints` table written once
    via ``materialize_path``).  Shorter overlaps than ``w + k − 1``
    tokens can fall between selected fingerprints — the audit is a
    GUARANTEED-LONG-RUN detector, not a per-gram overlap measure (use
    :func:`eval_overlap` when per-gram resolution matters).

    The eval universe is the SMALL side — distinct eval fingerprint
    hashes broadcast into a semi-join probe, so the training pass stays
    scan-shaped.  Train docs with zero fingerprints (< k tokens) score
    overlap 0 (no evidence)."""
    fp_train = fps if fps is not None else winnow_fingerprints(
        train, id_col, text_col, k, w, salt, token_pattern)
    ev = (winnow_fingerprints(eval_df, id_col, text_col, k, w, salt,
                              token_pattern)
          .select("g").distinct())
    d = fp_train.select(id_col, "g").distinct()
    hits = d.join(F.broadcast(ev), "g", "left_semi") \
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("__c"))
    sizes = d.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    return sizes.join(hits, id_col, "left").select(
        id_col, "n_fp",
        F.coalesce("__c", F.lit(0)).cast("bigint").alias("n_hit"),
        (F.coalesce("__c", F.lit(0)).cast("double")
         / F.col("n_fp").cast("double")).alias("overlap"),
    )


def winnow_ingest(
    new_docs: "DataFrame",
    index: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 10,
    salt: str = "",
    token_pattern: str | None = None,
) -> "DataFrame":
    """Incremental near-dup ingest against an EXISTING winnowing index:
    score every document of a new batch by its best fingerprint overlap
    with the already-ingested corpus — the fingerprint analog of the
    digest-table incremental exact dedup (a growing corpus judges each
    arriving batch against what it already holds, never re-pairing the
    whole history).  Output per new document:
    ``(id, n_fp, best_shared, is_dup)`` where ``best_shared`` is the
    maximum fingerprint count shared with any single indexed document
    and ``is_dup = best_shared >= min_shared``.

    ``index`` is a ``(id, g)`` fingerprint relation — a
    :func:`winnow_fingerprints` result, typically the parquet index
    maintained across batches (append the KEPT batch docs' fingerprints
    after each ingest: ``index.union(fp_new.join(kept_ids, id))``).
    ``max_df`` drops index fingerprints present in more than that many
    indexed documents before the join (boilerplate guard, as in
    :func:`winnow_overlap_pairs`).  Within-batch duplicates are out of
    scope by design — run :func:`winnow_overlap_pairs` on the batch for
    those; ingest semantics judge against the INDEX only.

    Shape (100 TB): the batch side is one winnow pass over the (small)
    batch; the index side is a skinny (id, g) scan + df-cap aggregate;
    the only join is fingerprint-keyed with the capped index, so per-
    batch cost rides the batch size and the hit mass, not the corpus."""
    fpn = winnow_fingerprints(new_docs, id_col, text_col, k, w, salt,
                              token_pattern).select(id_col, "g").distinct()
    idx = index.select(F.col(id_col).alias("__old"), "g").distinct()
    dfc = idx.groupBy("g").agg(F.count(F.lit(1)).alias("__c"))
    idx_ok = idx.join(dfc.where(F.col("__c") <= max_df).select("g"), "g")
    shared = (
        fpn.join(idx_ok, "g")
        .groupBy(id_col, "__old").agg(F.count(F.lit(1)).alias("__s"))
        .groupBy(id_col).agg(F.max("__s").alias("best_shared"))
    )
    sizes = fpn.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    return sizes.join(shared, id_col, "left").select(
        id_col, "n_fp",
        F.coalesce("best_shared", F.lit(0)).cast("bigint")
         .alias("best_shared"),
        (F.coalesce("best_shared", F.lit(0)) >= min_shared).alias("is_dup"),
    )


# ARI (Automated Readability Index, Senter & Smith 1967) coefficients —
# injected as the SAME double literals into the Spark plan and the SQL
# mirror (scientific notation in SQL: plain decimal literals parse as
# DECIMAL first and the extra conversion can double-round an ulp).
_ARI_CHARS = 4.71
_ARI_WORDS = 0.58
_ARI_BIAS = 21.43


def readability_by_group(
    df: DataFrame,
    text_col: str = "text",
    group_cols: "Sequence[str]" = ("lang",),
) -> DataFrame:
    """Corpus READABILITY audit: Automated Readability Index per group —
    ``ARI = 4.71·(chars/words) + 0.58·(words/sentences) − 21.43`` over
    the group's POOLED exact integer counts (alphanumeric chars, space-
    split words, sentence runs of ``[.!?]+`` floored at 1 per doc).
    The tokenizer-equity cousin of the Gopher heuristics: a per-source/
    per-language complexity screen for curriculum or quality gating.

    Numeric policy: the three counts aggregate as exact integers; the
    formula is three single IEEE divisions/multiplies off literal
    coefficients — bitwise-portable with no rounding discipline.  The
    char class and sentence regex are ASCII (RE2 ≡ Java semantics, the
    text_stats_regex discipline).

    Output: ``(*group_cols, n_docs, n_chars, n_words, n_sentences,
    ari)``."""
    # NULL text contributes NULL to every count (SUM skips it in both
    # engines) — without the guard Spark's size(split(NULL)) is -1
    # (legacy sizeOfNull) and greatest(1, NULL) disagrees across
    # engines, silently corrupting n_words
    nn = F.col(text_col).isNotNull()
    per_doc = df.select(
        *group_cols,
        F.when(nn, F.length(F.regexp_replace(
            F.col(text_col), F.lit("[^A-Za-z0-9]"), F.lit("")))
               .cast("bigint")).alias("__c"),
        F.when(nn, F.size(F.split(F.col(text_col), " "))
               .cast("bigint")).alias("__w"),
        F.when(nn, F.greatest(
            F.lit(1).cast("bigint"),
            F.regexp_count(F.col(text_col), F.lit("[.!?]+"))
            .cast("bigint"))).alias("__s"),
    )
    g = per_doc.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__c").cast("bigint").alias("n_chars"),
        F.sum("__w").cast("bigint").alias("n_words"),
        F.sum("__s").cast("bigint").alias("n_sentences"),
    )
    ari = (F.lit(_ARI_CHARS)
           * (F.col("n_chars").cast("double")
              / F.col("n_words").cast("double"))
           + F.lit(_ARI_WORDS)
           * (F.col("n_words").cast("double")
              / F.col("n_sentences").cast("double"))
           - F.lit(_ARI_BIAS))
    return g.select(*group_cols, "n_docs", "n_chars", "n_words",
                    "n_sentences", ari.alias("ari"))


def readability_sql(
    src: str = "documents",
    text_expr: str = "text",
    group_exprs: "Sequence[str]" = ("lang",),
) -> str:
    """DuckDB mirror of :func:`readability_by_group`: identical ASCII
    regexes, exact integer sums, and the same three-step double
    formula with scientific-notation coefficient literals."""
    gcols = ", ".join(group_exprs)
    return f"""
    WITH per_doc AS (
        SELECT {gcols},
               CASE WHEN {text_expr} IS NULL THEN NULL
                    ELSE CAST(length(regexp_replace({text_expr},
                                  '[^A-Za-z0-9]', '', 'g')) AS BIGINT)
               END AS c,
               CASE WHEN {text_expr} IS NULL THEN NULL
                    ELSE CAST(len(string_split({text_expr}, ' '))
                              AS BIGINT)
               END AS w,
               CASE WHEN {text_expr} IS NULL THEN NULL
                    ELSE greatest(CAST(1 AS BIGINT),
                                  CAST(len(regexp_extract_all({text_expr},
                                               '[.!?]+')) AS BIGINT))
               END AS s
        FROM {src}
    ),
    g AS (
        SELECT {gcols}, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c) AS BIGINT) AS n_chars,
               CAST(SUM(w) AS BIGINT) AS n_words,
               CAST(SUM(s) AS BIGINT) AS n_sentences
        FROM per_doc GROUP BY {gcols}
    )
    SELECT {gcols}, n_docs, n_chars, n_words, n_sentences,
           {_ARI_CHARS:.17e} * (CAST(n_chars AS DOUBLE)
                                / CAST(n_words AS DOUBLE))
           + {_ARI_WORDS:.17e} * (CAST(n_words AS DOUBLE)
                                  / CAST(n_sentences AS DOUBLE))
           - {_ARI_BIAS:.17e} AS ari
    FROM g
    """


def novelty_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    token_pattern: str | None = None,
) -> DataFrame:
    """Per-document NOVELTY in corpus order: the share of a doc's
    distinct shingles whose FIRST corpus occurrence (min ``id_col``) is
    this doc — the freshness/diversity curve a curriculum or crawl-
    snapshot pipeline reads (late documents full of already-seen
    n-grams are recombinations; high-novelty docs introduce new
    content).  The per-document complement of the corpus-level Heaps
    vocab-growth curve.

    Shape: one shingle pass (``distinct_shingle_hashes``), one
    min-aggregate over the shingle index (map-side combinable), one
    skinny join back on the shingle hash — the same inverted-index
    discipline as the Jaccard family, never all-pairs.  Counts are
    exact integers; novelty is one terminal division.  Docs with no
    shingles (< n tokens) emit ``n_shingles = 0`` with NULL novelty.

    Output: ``(id, n_shingles, n_novel, novelty)``."""
    sh = df.select(
        F.col(id_col),
        F.explode(distinct_shingle_hashes(
            F.col(text_col), n=n, token_pattern=token_pattern)).alias("__h"),
    )
    first = sh.groupBy("__h").agg(F.min(id_col).alias("__first"))
    per_doc = (
        sh.join(first, "__h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
             F.sum(F.when(F.col("__first") == F.col(id_col), 1)
                   .otherwise(0)).cast("bigint").alias("n_novel"))
    )
    out = df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_shingles", F.lit(0).cast("bigint")).alias("n_shingles"),
        F.coalesce("n_novel", F.lit(0).cast("bigint")).alias("n_novel"),
    )
    return out.select(
        id_col, "n_shingles", "n_novel",
        F.when(F.col("n_shingles") > 0,
               F.col("n_novel").cast("double")
               / F.col("n_shingles").cast("double")).alias("novelty"))


def trigram_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Character-trigram inverted index: one ``(gram, id)`` row per
    DISTINCT trigram per document (the pg_trgm posting-list shape).
    Build once (optionally persist with ``sources`` write helpers — the
    winnow ``materialize_path`` convention) and every substring search
    becomes a bounded semi-join instead of a full-corpus scan.

    Size: ≤ total corpus characters; one shuffle (the distinct)."""
    grams = F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - 2, 0)), "
        f"i -> substring({text_col}, i, 3))"))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def trigram_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
    postings: DataFrame | None = None,
    max_grams: int = 8,
) -> DataFrame:
    """Exact substring search accelerated by the trigram index (the
    pg_trgm plan): a document containing ``pattern`` necessarily
    contains every trigram of the pattern, so intersecting (up to
    ``max_grams``) pattern-trigram posting lists yields a LOSSLESS
    candidate set, and a final literal ``contains`` on the candidates
    alone gives the exact answer — the inverted-index discipline
    applied to LIKE '%…%', which otherwise cannot push down and scans
    every byte at 100 TB.

    Using only a SUBSET of the pattern's trigrams stays lossless (each
    gram is a necessary condition); the cap bounds the semi-join at
    ``max_grams`` posting lists.  Patterns shorter than 3 characters
    fall back to the plain scan filter (no trigram to index on).

    Returns the matching rows of ``df`` (all columns).
    """
    if len(pattern) < 3:
        return df.where(F.col(text_col).contains(F.lit(pattern)))
    pgrams = []
    for i in range(len(pattern) - 2):
        g = pattern[i:i + 3]
        if g not in pgrams:
            pgrams.append(g)
    pgrams = pgrams[:max_grams]
    post = postings if postings is not None else trigram_postings(
        df, id_col, text_col)
    hits = (
        post.where(F.col("gram").isin(pgrams))
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("__ng"))
        .where(F.col("__ng") == len(pgrams))
        .select(id_col)
    )
    return (
        df.join(hits, id_col, "left_semi")
        .where(F.col(text_col).contains(F.lit(pattern)))
    )


def trigram_search_sql(table: str, text_expr: str, pattern: str,
                       select: str = "*") -> str:
    """DuckDB mirror of :func:`trigram_search` — the brute-force truth
    the index path must equal exactly: a literal ``position`` test
    (no LIKE wildcard escaping hazards)."""
    lit = pattern.replace("'", "''")
    return (f"SELECT {select} FROM {table} "
            f"WHERE position('{lit}' IN {text_expr}) > 0")


def trigram_search_many(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: DataFrame,
    pattern_col: str = "pattern",
    postings: DataFrame | None = None,
    max_grams: int = 8,
) -> DataFrame:
    """MULTI-pattern exact substring search — the blocklist shape (ban
    phrases, contamination markers, canary strings) run as ONE
    distributed plan instead of |patterns| scans: every pattern's
    trigrams join the shared posting index, a (pattern, doc) candidate
    must contain ALL of its pattern's (capped) trigrams, and only the
    candidates pay the literal ``contains`` verify.

    Lossless per pattern by the same necessary-condition argument as
    :func:`trigram_search`; patterns shorter than 3 characters are
    rejected (ValueError via a plan-time check is impossible on a
    relation — they would silently match nothing, so the operator
    filters them out and the caller should pre-validate).

    Shape: pattern-gram relation (tiny: ≤ max_grams rows per pattern,
    broadcast) ⋈ postings on gram → count-distinct-grams filter →
    text attach + verify.  Candidate volume = Σ posting lengths of the
    patterns' grams — the inverted-index bound, never |docs|·|patterns|.

    Output: ``(pattern, id)`` one row per (pattern, matching doc).
    """
    post = postings if postings is not None else trigram_postings(
        df, id_col, text_col)
    pats = patterns.select(F.col(pattern_col).alias("pattern")) \
        .where(F.length("pattern") >= 3).distinct()
    pgrams = pats.select(
        "pattern",
        F.explode(F.slice(F.array_distinct(F.expr(
            "transform(sequence(1, length(pattern) - 2), "
            "i -> substring(pattern, i, 3))")), 1, max_grams)).alias("gram"),
    )
    need = pgrams.groupBy("pattern").agg(
        F.count(F.lit(1)).alias("__need"))
    cands = (
        post.join(F.broadcast(pgrams), "gram")
        .groupBy("pattern", id_col)
        .agg(F.count_distinct("gram").alias("__got"))
        .join(F.broadcast(need), "pattern")
        .where(F.col("__got") == F.col("__need"))
        .select("pattern", id_col)
    )
    return (
        cands.join(df.select(id_col, text_col), id_col)
        .where(F.expr(f"contains({text_col}, pattern)"))
        .select("pattern", id_col)
    )


def trigram_search_many_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    patterns_values: list[str],
) -> str:
    """DuckDB mirror of :func:`trigram_search_many` — brute-force truth
    over an inline VALUES pattern list."""
    vals = ", ".join(
        "('" + p.replace("'", "''") + "')" for p in patterns_values)
    return f"""
    WITH pats(pattern) AS (VALUES {vals})
    SELECT pattern, {id_expr} AS id
    FROM {table} JOIN pats ON position(pattern IN {text_expr}) > 0
    WHERE length(pattern) >= 3
    """
