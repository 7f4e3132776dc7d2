"""LLM-pipeline operator tests: recall/completeness properties that the
rows-only queries (probabilistic LSH paths) can't prove via the SQL oracle.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from map_reduce_folds_spark.operators import dedup as D
from map_reduce_folds_spark.operators import similarity as S
from map_reduce_folds_spark.operators import text as T
from map_reduce_folds_spark.sources import load_table

from tests.conftest import SF_DIR, SF_DIR_MEDIUM


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_minhash_recall_vs_exact(docs):
    """LSH candidates must surface most true near-dup pairs; verified
    precision is exact by construction (candidates are re-checked)."""
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    mh = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert mh <= exact  # precision 1.0: every reported pair is a true pair
    if exact:
        recall = len(mh & exact) / len(exact)
        assert recall >= 0.8, f"minhash recall {recall:.2f} on {len(exact)} pairs"


def test_minhash_band_rows_matches_catalyst(docs):
    """The vectorized Arrow signature stage must be value-identical to the
    Catalyst expression form (shingle hashes AND band digests) — pure
    integer arithmetic, so exact set/array equality."""
    from map_reduce_folds_spark.operators.text import distinct_shingle_hashes

    arrow = {r[0]: (set(r[1]), list(r[2]))
             for r in D.minhash_band_rows(docs).collect()}
    cat = {
        r[0]: (set(r[1]), list(r[2]))
        for r in docs.select(
            "doc_id", distinct_shingle_hashes("text", 3).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", "sh",
                D.band_hashes(D.minhash_signature(F.col("sh"), 16), 8, 2).alias("bandh"))
        .collect()
    }
    assert arrow == cat


def test_simhash_arrow_stage_matches_catalyst(docs):
    """simhash_rows (vectorized Arrow stage) must equal the Catalyst
    simhash() expression value-for-value — same split, same distinct set,
    same md5 token hash, same majority rule."""
    cat = {(r[0], r[1]) for r in
           docs.select("doc_id", D.simhash("text", 32).alias("sig")).collect()}
    arrow = {(r[0], r[1])
             for r in D.simhash_rows(docs, "doc_id", "text", 32).collect()}
    assert arrow == cat


def test_simhash_components_equals_doc_level_pairs(docs):
    """The distinct-signature factoring (star to sig-rep + pigeonhole over
    reps) must yield EXACTLY the components of the doc-level pair graph —
    same node set, same min-id labels."""
    from map_reduce_folds_spark.operators import graph as G

    doc_level = {
        (r["node"], r["component"])
        for r in G.connected_components(
            D.simhash_near_dup_pairs(docs, bits=32, max_hamming=3, blocks=4),
            "id_a", "id_b").collect()
    }
    factored = {
        (r["node"], r["component"])
        for r in D.simhash_components(docs, bits=32, max_hamming=3,
                                      blocks=4).collect()
    }
    assert factored == doc_level


def test_simhash_auto_bits_rule():
    """Signature width is a SCALE parameter (measured, SCALE_BENCH_r13
    session 6: 32-bit signatures birthday-saturate at 1M docs — 99% of
    the corpus chained into one component, 6× wall).  Regression-pin the
    sizing rule at the measured threshold: the expected SPURIOUS
    same-signature pair mass C(n,2)/2^bits must stay bounded at the
    auto width while the old fixed 32 explodes."""
    from math import comb

    # rule values at the regime boundaries
    assert D.simhash_auto_bits(1) == 32
    assert D.simhash_auto_bits(1_000) == 32          # small corpora: floor
    assert D.simhash_auto_bits(1_000_000) == 48      # the measured cliff
    assert D.simhash_auto_bits(100_000_000) == 60    # ceiling (hash60)
    assert D.simhash_auto_bits(10**12) == 60         # clamp holds
    # saturation arithmetic at the measured 1M-doc threshold: fixed-32
    # expects ~116 spurious hamming-0 collisions per BIT PATTERN REGION
    # (C(1M,2)/2^32 ≈ 116 — enough to chain components, as measured);
    # the auto width keeps expected spurious mass ≪ 1
    n = 1_000_000
    assert comb(n, 2) / 2**32 > 100          # the regime that saturated
    assert comb(n, 2) / 2**D.simhash_auto_bits(n) < 2e-3
    # monotone non-decreasing in n (no width cliff going up-corpus)
    widths = [D.simhash_auto_bits(10**k) for k in range(0, 13)]
    assert widths == sorted(widths)


def test_simhash_auto_bits_is_default_and_exact(docs):
    """bits="auto" (the family default since r14) must resolve through
    simhash_auto_bits(n_docs) and produce results identical to the same
    explicit width; n_docs= passthrough must not change the answer."""
    n = docs.count()
    w = D.simhash_auto_bits(n)
    explicit = {(r["id_a"], r["id_b"]) for r in D.simhash_near_dup_pairs(
        docs, bits=w, max_hamming=3, blocks=4).collect()}
    auto = {(r["id_a"], r["id_b"]) for r in D.simhash_near_dup_pairs(
        docs, max_hamming=3, blocks=4).collect()}
    auto_n = {(r["id_a"], r["id_b"]) for r in D.simhash_near_dup_pairs(
        docs, max_hamming=3, blocks=4, n_docs=n).collect()}
    assert auto == explicit
    assert auto_n == explicit
    comp_auto = {(r["node"], r["component"])
                 for r in D.simhash_components(
                     docs, max_hamming=3, blocks=4).collect()}
    comp_explicit = {(r["node"], r["component"])
                     for r in D.simhash_components(
                         docs, bits=w, max_hamming=3, blocks=4).collect()}
    assert comp_auto == comp_explicit


def test_minhash_materialize_path_roundtrip(docs, tmp_path_factory):
    """The table-backed stage boundary (materialize_path=) must produce
    exactly the persist-backed results: same pairs, bitwise-same jaccard.
    Also checks the roundtrip is real — the signature table exists on disk
    with the stage schema."""
    import os

    root = str(tmp_path_factory.mktemp("lsh_stage"))
    sig_path = os.path.join(root, "signatures.parquet")
    via_persist = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    via_table = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.minhash_near_dup_pairs(
            docs, threshold=0.5, materialize_path=sig_path).collect()
    }
    assert via_table == via_persist
    stage = docs.sparkSession.read.parquet(sig_path)
    assert set(stage.columns) == {"doc_id", "sh", "bandh"}
    assert stage.count() > 0


def test_ann_topk_materialize_path_roundtrip(emb, tmp_path_factory):
    """materialize_path= on the ANN top-k paths (round-5 verdict item 5):
    the table-backed signature/index boundary must return hash-identical
    top-k to the in-lineage form, and the written table must be the real
    stage (SRP bucket rows / IVF cell assignment) so a later query batch
    can reuse it."""
    import os

    root = str(tmp_path_factory.mktemp("ann_stage"))
    q = emb.filter("vec_id < 5")

    srp_kw = dict(k=10, n_planes=6, n_tables=8)
    base = {(r.query_id, r.neighbor_id, r.cos_sim)
            for r in S.srp_lsh_topk(q, emb, **srp_kw).collect()}
    srp_path = os.path.join(root, "srp_index.parquet")
    via = {(r.query_id, r.neighbor_id, r.cos_sim)
           for r in S.srp_lsh_topk(q, emb, materialize_path=srp_path,
                                   **srp_kw).collect()}
    assert via == base
    srp_tbl = emb.sparkSession.read.parquet(srp_path)
    assert set(srp_tbl.columns) == {"__id", "tbl", "bucket"}
    assert srp_tbl.count() == emb.count() * 8  # one row per (vec, table)

    ivf_base = {(r.query_id, r.neighbor_id, r.cos_sim)
                for r in S.ivf_srp_topk(q, emb, k=10).collect()}
    ivf_path = os.path.join(root, "ivf_index.parquet")
    ivf_via = {(r.query_id, r.neighbor_id, r.cos_sim)
               for r in S.ivf_srp_topk(q, emb, k=10,
                                       materialize_path=ivf_path).collect()}
    assert ivf_via == ivf_base
    ivf_tbl = emb.sparkSession.read.parquet(ivf_path)
    assert set(ivf_tbl.columns) == {"neighbor_id", "cv", "cn", "cell"}
    assert ivf_tbl.count() == emb.count()  # disjoint cells: one row per vec


def test_lsh_bucketed_table_boundary_zero_exchange(spark, docs):
    """materialize_table=: the LSH signature stage written as a catalog
    table BUCKETED on the join key must (a) return the identical pair
    set and (b) compile the bucket self-join with ZERO Exchange — the
    shuffle paid once at write time, not per candidate query."""
    from map_reduce_folds_spark.plans import count_exchanges

    base = D.minhash_band_rows(docs, "doc_id", "text")
    via_persist = {(r.id_a, r.id_b)
                   for r in D.lsh_candidate_pairs(
                       base, "doc_id", "bandh", 8).collect()}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        via_table = D.lsh_candidate_pairs(
            base, "doc_id", "bandh", 8,
            materialize_table="t_lsh_sig_stage", n_buckets=8)
        got = {(r.id_a, r.id_b) for r in via_table.collect()}
        assert got == via_persist
        # the JOIN is Exchange-free on the bucketed table; the only
        # remaining Exchange in the distinct form is the pair-dedup agg
        raw = D.band_bucket_self_join(spark.table("t_lsh_sig_stage"),
                                      "doc_id")
        assert count_exchanges(raw) == 0
        assert count_exchanges(via_table) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_lsh_sig_stage")


def test_regex_tokenizer_threading(spark):
    """token_pattern= threads the regex tokenizer through shingles and the
    Arrow minhash stage; the two stages must agree with each other (same
    parity contract as the space split) and differ from the space split
    when punctuation is attached."""
    rows = [(1, "alpha beta, gamma delta. epsilon"),
            (2, "alpha beta , gamma delta . epsilon")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pat = T.DEFAULT_TOKEN_PATTERN
    cat = {r.doc_id: set(r.sh) for r in df.select(
        "doc_id",
        T.distinct_shingle_hashes("text", 3, token_pattern=pat).alias("sh"),
    ).collect()}
    arrow = {r[0]: set(r[1]) for r in D.minhash_band_rows(
        df, n=3, token_pattern=pat).collect()}
    assert cat == arrow
    # under the regex tokenizer both docs tokenize identically
    assert cat[1] == cat[2]
    # under the space split they do not
    space = {r.doc_id: set(r.sh) for r in df.select(
        "doc_id", T.distinct_shingle_hashes("text", 3).alias("sh")).collect()}
    assert space[1] != space[2]


def test_ngram_jaccard_hot_shingle_cap(spark, docs):
    """max_shingle_df (the 100 TB skew guard): capped output must be a
    SUBSET of the uncapped pairs with BITWISE-identical jaccard scores
    (verify-after rescores against full shingle sets); a pair whose
    overlap is entirely hot shingles is dropped; on the real fixture a
    generous cap changes nothing."""
    boiler = "the quick brown fox jumps over the dog"  # hot: in every doc
    rows = [
        (1, boiler + " alpha beta gamma delta one two"),
        (2, boiler + " alpha beta gamma delta one three"),  # near-dup of 1
        (3, boiler + " epsilon zeta eta theta four five"),
        (4, boiler + " iota kappa lambda mu six seven"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    full = {(r.id_a, r.id_b): r.jaccard
            for r in D.ngram_jaccard_pairs(df, threshold=0.0).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in D.ngram_jaccard_pairs(df, threshold=0.0,
                                             max_shingle_df=3).collect()}
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j == full[pair], pair  # bitwise: same arithmetic either path
    # (1,2) share cool shingles -> survives; boilerplate-only pairs like
    # (3,4) share ONLY df=4 shingles -> dropped by candidate generation
    assert (1, 2) in capped
    assert (3, 4) in full and (3, 4) not in capped
    # fixture sanity: cap far above any real df is a no-op
    base = {(r.id_a, r.id_b): r.jaccard
            for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    wide = {(r.id_a, r.id_b): r.jaccard
            for r in D.ngram_jaccard_pairs(docs, threshold=0.5,
                                           max_shingle_df=10**6).collect()}
    assert base == wide


def test_containment_catches_quote_jaccard_misses(spark):
    """The asymmetric point of shingle_containment_pairs: a short doc
    embedded wholesale in a long host has containment 1.0 but low
    Jaccard — the containment op must surface it at a threshold where
    the Jaccard op (correctly) does not."""
    quote = "alpha beta gamma delta epsilon zeta"
    host = ("one two three four five six seven eight nine ten "
            + quote +
            " eleven twelve thirteen fourteen fifteen sixteen seventeen")
    df = spark.createDataFrame(
        [(1, quote), (2, host)], "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): (r.common, r.sz_a, r.sz_b, r.containment)
           for r in D.shingle_containment_pairs(
               df, threshold=0.9).collect()}
    # quote: 6 tokens -> 4 shingles, every one inside the host
    assert got == {(1, 2): (4, 4, len(host.split()) - 2, 1.0)}
    jac = D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the quote relation

    # the skew guard preserves scores on surviving pairs (verify-after)
    capped = {(r.id_a, r.id_b): r.containment
              for r in D.shingle_containment_pairs(
                  df, threshold=0.9, max_shingle_df=10).collect()}
    assert capped == {(1, 2): 1.0}


def test_duplicate_ngram_stats_hand_case(spark):
    """Hand corpus pinning every rule: cross-doc duplicated occurrences
    counted per OCCURRENCE, within-doc-only repeats not duplicated
    (min_docs=2 is distinct docs), short docs restored with zero counts
    and NULL fraction."""
    rows = [
        (1, "a b c d"),          # shingles: 'a b c', 'b c d'
        (2, "a b c x"),          # shares 'a b c' with doc 1
        (3, "q r s q r s"),      # 'q r s' repeats WITHIN doc 3 only
        (4, "xy zz"),            # < 3 tokens: no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.n_ngrams, r.n_dup, r.dup_frac)
           for r in D.duplicate_ngram_stats(df, n=3).collect()}
    assert got[1] == (2, 1, 0.5)        # 'a b c' is cross-doc dup
    assert got[2] == (2, 1, 0.5)
    # doc 3: 4 occurrences, 'q r s' appears twice but only in ONE doc —
    # nothing cross-doc duplicated
    assert got[3] == (4, 0, 0.0)
    assert got[4] == (0, 0, None)


def test_simhash_pigeonhole_complete(docs):
    """Blocking must find EVERY pair with hamming <= max_hamming (pigeonhole
    guarantees it); cross-check against brute-force over signatures."""
    sigs = {r.doc_id: r.sig for r in
            docs.select("doc_id", D.simhash("text", 32).alias("sig")).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    found = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_dup_pairs(docs, bits=32, max_hamming=3, blocks=4).collect()
    }
    assert found == brute


def test_srp_lsh_recall(emb):
    """ANN recall vs brute force. Random fixture embeddings are the hardest
    case for LSH (no cluster structure), so the floor is modest — the
    assertion is about the machinery working, not embedding quality."""
    q = emb.filter("vec_id < 5")
    truth = S.brute_force_topk(q, emb, k=10).collect()
    approx = S.srp_lsh_topk(q, emb, k=10, n_planes=6, n_tables=8).collect()
    truth_set = {(r.query_id, r.neighbor_id) for r in truth}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    # every approx result must carry the correct cosine (verified scoring)
    truth_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in truth}
    for r in approx:
        if (r.query_id, r.neighbor_id) in truth_cos:
            assert abs(r.cos_sim - truth_cos[(r.query_id, r.neighbor_id)]) < 1e-12
    recall = len(truth_set & approx_set) / len(truth_set)
    assert recall >= 0.3, f"srp-lsh recall {recall:.2f}"


def test_embedding_lsh_vs_exact(emb):
    """SRP-LSH near-dup: precision 1.0 vs the quadratic baseline (every
    emitted pair is exact-verified); recall floor modest because the random
    fixture threshold (0.4) sits barely above random cosine — on true
    near-dups (cos ≥ 0.9) the same defaults give ~98% per the S-curve."""
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in S.embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b): r.cos_sim
           for r in S.embedding_near_dup_pairs_lsh(
               emb, threshold=0.4, n_planes=6, n_tables=8).collect()}
    assert set(lsh) <= set(exact)  # precision 1.0
    for pair, cos in lsh.items():
        assert abs(cos - exact[pair]) < 1e-12  # identical verify arithmetic
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.1, f"embedding-lsh recall {recall:.2f} on {len(exact)} pairs"


def test_embedding_lsh_verify_modes_identical(emb):
    """The two verify strategies (round 11) must emit the IDENTICAL pair
    set with bitwise-identical cosines: broadcast = skinny candidates →
    distinct → explicit-broadcast vector joins; inline = vectors carried
    on bucket rows, canonical-first-agreeing-table dedup filter, no
    aggregate.  Same buckets, same left-fold arithmetic — only the plan
    differs.  Also pins that the inline plan really has NO dedup
    aggregate over the candidate stream and the broadcast plan really
    broadcasts (no sort-merge vector join — the 100× disk-filling
    regression class)."""
    from map_reduce_folds_spark import plans as P

    kw = dict(threshold=0.4, n_planes=6, n_tables=8)
    bc = S.embedding_near_dup_pairs_lsh(emb, verify="broadcast", **kw)
    il = S.embedding_near_dup_pairs_lsh(emb, verify="inline", **kw)
    got_bc = {(r.id_a, r.id_b): r.cos_sim for r in bc.collect()}
    got_il = {(r.id_a, r.id_b): r.cos_sim for r in il.collect()}
    assert set(got_bc) == set(got_il)
    for pair, cos in got_bc.items():
        assert cos == got_il[pair], pair  # bitwise-identical verify
    # round 12: the int8-prefiltered inline strategy must also be
    # bitwise-identical — the quantization-error bound is LOSSLESS and
    # survivors re-score with the exact left-fold arithmetic
    q8 = S.embedding_near_dup_pairs_lsh(emb, verify="inline_q8", **kw)
    got_q8 = {(r.id_a, r.id_b): r.cos_sim for r in q8.collect()}
    assert got_q8 == got_bc
    # round 13: BOTH rescore modes of inline_q8 are bitwise-identical —
    # partitioned (the default: no F.broadcast of the survivor list
    # anywhere, the r12 verdict's last unbounded driver broadcast) and
    # the explicit broadcast fast path.  Only the join plan differs; the
    # exact left-fold rescore arithmetic is shared.
    q8b = S.embedding_near_dup_pairs_lsh(
        emb, verify="inline_q8", rescore="broadcast", **kw)
    assert {(r.id_a, r.id_b): r.cos_sim for r in q8b.collect()} == got_bc
    from map_reduce_folds_spark.plans import initial_physical_plan

    # the distinguishing plan property: with the planner's size-based
    # broadcasts disabled, the partitioned rescore plans ZERO broadcast
    # joins (nothing is force-broadcast; at tiny SF the planner's own
    # stats normally convert the small side, which is the safe
    # direction), while the explicit mode still broadcasts — the
    # F.broadcast hint overrides the threshold, which is exactly the
    # unbounded-at-scale behavior the partitioned default removes
    spark = emb.sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pp = initial_physical_plan(
            S.embedding_near_dup_pairs_lsh(emb, verify="inline_q8", **kw))
        pb = initial_physical_plan(S.embedding_near_dup_pairs_lsh(
            emb, verify="inline_q8", rescore="broadcast", **kw))
        assert pp.count("BroadcastHashJoin") == 0, pp
        assert pb.count("BroadcastHashJoin") >= 1, pb
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    with pytest.raises(ValueError, match="rescore"):
        S.embedding_near_dup_pairs_lsh(emb, verify="inline_q8",
                                       rescore="bogus", **kw)
    il_plan = P.executed_plan(il)
    assert "hashpartitioning(id_a" not in il_plan, "candidate dedup exchange"
    bc_plan = P.executed_plan(bc)
    assert "BroadcastHashJoin" in bc_plan, bc_plan
    with pytest.raises(ValueError, match="verify"):
        S.embedding_near_dup_pairs_lsh(emb, verify="bogus", **kw)


def test_auto_srp_params():
    """Auto bucket-space sizing: occupancy SHRINKS past the base knee
    (occ = target·(n/knee)^(−c/(1−c)), the round-12 linear-candidates
    rule — constant occupancy left candidates ∝ n^1.22, the 17×-per-10×
    wall of SCALE_BENCH_r11), tables compensated to hold the recall
    S-curve, explicit planes pinned but tables still derived (the
    round-5 scale-trap fix)."""
    base = S.auto_srp_params(1_000)
    assert base == (6, 8)  # under the knee: base geometry
    p10, t10 = S.auto_srp_params(64 * 64 * 10)       # 10x past the knee
    p100, t100 = S.auto_srp_params(64 * 64 * 100)    # 100x past the knee
    assert p10 == 10 and p100 == 14  # beyond +1-per-doubling: occ shrinks
    assert t100 >= t10 >= 8          # monotone recall compensation
    # occupancy n / 2^planes stays bounded by target_bucket and SHRINKS
    # with n past the knee (down to the floor of 8)
    prev = 64.0
    for n in (10**4, 10**5, 10**6, 10**8):
        planes, _ = S.auto_srp_params(n)
        occ = n / 2 ** planes
        assert occ <= prev + 1e-9 and occ <= 64
        prev = occ
    # candidate volume n·occ/2·tables grows ≤ ~linearly per 10× across
    # the measured regime (the whole point of the shrink rule)
    def cand(n):
        p, t = S.auto_srp_params(n, threshold=0.9)
        return n * (n / 2 ** p) / 2 * t
    for lo, hi in ((2 * 10**4, 2 * 10**5), (2 * 10**5, 2 * 10**6)):
        assert cand(hi) / cand(lo) <= 12.0, (lo, hi, cand(hi) / cand(lo))
    # pinned planes: tables still compensated for the pinned geometry
    pp, pt = S.auto_srp_params(64 * 64 * 100, planes=9)
    assert pp == 9 and pt == math.ceil(8 * (1 / (1 - math.acos(0.95) / math.pi)) ** 3)


@pytest.mark.parametrize("n_vecs", [2_000, 16_000])
def test_lsh_auto_recall_planted_dups(spark, n_vecs):
    """Pair recall with DEFAULT (auto) parameters at two corpus sizes —
    the round-5 verdict's acceptance test for the auto-sizing fix.  50
    planted near-dup pairs (cos ≈ 0.99) in a random corpus; auto planes
    differ between the sizes (6 vs 8) yet recall must hold at both,
    because tables are compensated along the S-curve."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    base = rng.standard_normal((n_vecs, 64))
    # plant 50 near-dups: ids n_vecs..n_vecs+49 are noisy copies of 0..49
    noisy = base[:50] + 0.05 * rng.standard_normal((50, 64))
    vecs = np.vstack([base, noisy])
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": [row.astype("float64").tolist() for row in vecs],
    })
    df = spark.createDataFrame(pdf).repartition(8)
    planes_expected, _ = S.auto_srp_params(len(vecs), threshold=0.95)
    assert (planes_expected > 6) == (n_vecs == 16_000)
    found = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs_lsh(
            df, threshold=0.95, corpus_count=len(vecs)).collect()
    }
    planted = {(i, n_vecs + i) for i in range(50)}
    hits = {(a, b) for a, b in found if (a, b) in planted}
    recall = len(hits) / len(planted)
    assert recall >= 0.9, f"auto-LSH recall {recall:.2f} at n={n_vecs}"


def test_exact_dedup_removes_planted_dups(spark, docs):
    dups = docs.filter("doc_id % 7 = 0").withColumn("doc_id", F.col("doc_id") + 10_000)
    corpus = docs.unionByName(dups)
    kept = D.exact_dedup_keep_first(corpus, "text", "doc_id")
    n_docs = docs.count()
    assert kept.count() == n_docs  # one representative per distinct text
    assert kept.filter("n_copies > 1").count() == dups.count()
    # representative is always the original (lower id)
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_quality_score_bounds(docs):
    rows = docs.select(T.quality_score("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = df.select(F.size(T.distinct_shingle_hashes("text", 3)).alias("n")).collect()
    assert [r.n for r in out] == [0, 2]


def test_ivf_topk_recall(emb):
    """IVF ANN: machinery check — results carry exact cosine, recall floor
    modest on unclustered fixture embeddings."""
    q = emb.filter("vec_id < 5")
    truth = S.brute_force_topk(q, emb, k=10).collect()
    approx = S.ivf_topk(q, emb, k=10, n_centroids=8, n_probe=4).collect()
    truth_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in truth}
    for r in approx:
        if (r.query_id, r.neighbor_id) in truth_cos:
            assert abs(r.cos_sim - truth_cos[(r.query_id, r.neighbor_id)]) < 1e-12
    truth_set = {(r.query_id, r.neighbor_id) for r in truth}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth_set & approx_set) / len(truth_set)
    # probing half the cells on unclustered data: expect roughly >= n_probe/K
    assert recall >= 0.3, f"ivf recall {recall:.2f}"


def test_ivf_srp_topk_recall_and_exact_scores(emb):
    """SRP-cell IVF (the oracle-checked sim_topk_ivf path): exact cosine on
    every returned pair, recall floor ~ n_probe/2^n_bits on unclustered
    data, and ≤ k rows per query from disjoint cells (no dedup needed)."""
    q = emb.filter("vec_id < 5")
    truth = S.brute_force_topk(q, emb, k=10).collect()
    approx = S.ivf_srp_topk(q, emb, k=10, n_bits=3, n_probe=4).collect()
    truth_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in truth}
    for r in approx:
        if (r.query_id, r.neighbor_id) in truth_cos:
            assert abs(r.cos_sim - truth_cos[(r.query_id, r.neighbor_id)]) < 1e-12
    from collections import Counter

    per_q = Counter(r.query_id for r in approx)
    assert all(n <= 10 for n in per_q.values())
    truth_set = {(r.query_id, r.neighbor_id) for r in truth}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth_set & approx_set) / len(truth_set)
    assert recall >= 0.3, f"srp-ivf recall {recall:.2f}"


def test_hash_split_invariants(spark, docs):
    """Deterministic split: exhaustive+disjoint, partition-independent,
    and re-salting decorrelates."""
    from map_reduce_folds_spark.operators import sampling as SM

    labeled = SM.hash_split(docs, "doc_id")
    rows = labeled.select("doc_id", "split").collect()
    assert all(r.split in ("train", "val", "test") for r in rows)  # exhaustive
    assert len(rows) == docs.count()
    # partition layout must not change assignments
    re = {r.doc_id: r.split
          for r in SM.hash_split(docs.repartition(17), "doc_id")
          .select("doc_id", "split").collect()}
    assert re == {r.doc_id: r.split for r in rows}
    # a different salt gives a (near-certainly) different assignment
    other = {r.doc_id: r.split
             for r in SM.hash_split(docs, "doc_id", salt="v2")
             .select("doc_id", "split").collect()}
    assert other != {r.doc_id: r.split for r in rows}


def test_hash_split_rejects_bad_weights():
    from map_reduce_folds_spark.operators.sampling import _thresholds

    with pytest.raises(ValueError, match="must sum to 1"):
        _thresholds({"a": 0.5, "b": 0.4})


def test_mix_sources_rates(spark, docs):
    """Rate-0 sources vanish, rate-1 sources survive whole, absent sources
    get the default; every kept row's decision is reproducible."""
    from map_reduce_folds_spark.operators import sampling as SM

    rates = {"src0": 1.0, "src1": 0.0}
    kept = SM.mix_sources(docs, "source", rates, "doc_id").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, 0)
        by_src[r.source] += 1
    n_src0 = docs.filter("source = 'src0'").count()
    assert by_src.get("src0") == n_src0      # rate 1.0: all rows
    assert "src1" not in by_src              # rate 0.0: none
    assert set(by_src) == {"src0"}           # default_rate 0: others dropped
    # default_rate keeps unlisted sources at the given rate, deterministically
    kept2 = SM.mix_sources(docs, "source", rates, "doc_id", default_rate=1.0)
    assert kept2.count() == docs.count() - docs.filter("source = 'src1'").count()


def test_temperature_mix_properties(spark):
    """τ-mixing semantics: the smallest source is kept WHOLE, rates are
    (w_min/w_s)^(1−τ) so kept row counts track w^τ (within hash-sampling
    noise), τ=1 is a no-op, and the decision is deterministic (a rerun
    keeps the identical id set).  Skewed 3-source corpus: 200/1800/8000
    rows."""
    from map_reduce_folds_spark.operators import sampling as SM

    rows = [(i, "a" if i < 200 else ("b" if i < 2000 else "c"))
            for i in range(10_000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string") \
        .repartition(8)
    kept = SM.temperature_mix(df, "source", "doc_id", tau=0.5)
    by = {r.source: r.n for r in kept.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by["a"] == 200                       # smallest source whole
    import math

    for s, w in (("b", 1800), ("c", 8000)):
        expect = w * math.sqrt(200 / w)         # = sqrt(200·w)
        assert abs(by[s] - expect) / expect < 0.15, (s, by[s], expect)
    # kept mass follows w^tau: ratios of kept counts ≈ sqrt ratios
    assert abs(by["c"] / by["b"] - math.sqrt(8000 / 1800)) < 0.4
    # tau=1 keeps everything
    assert SM.temperature_mix(df, "source", "doc_id", tau=1.0).count() \
        == 10_000
    # deterministic: identical id set on rerun
    ids1 = {r.doc_id for r in kept.collect()}
    ids2 = {r.doc_id for r in SM.temperature_mix(
        df, "source", "doc_id", tau=0.5).collect()}
    assert ids1 == ids2
    import pytest

    with pytest.raises(ValueError, match="tau"):
        SM.temperature_mix(df, "source", "doc_id", tau=1.5)


def test_deterministic_shuffle_total_order(spark, docs):
    """Positions are a permutation of 1..n, stable under repartitioning,
    and a different salt yields a different permutation."""
    from map_reduce_folds_spark.operators import sampling as SM

    out = {r.doc_id: r.pos
           for r in SM.deterministic_shuffle(docs, "doc_id").collect()}
    n = docs.count()
    assert sorted(out.values()) == list(range(1, n + 1))
    re = {r.doc_id: r.pos
          for r in SM.deterministic_shuffle(docs.repartition(13), "doc_id").collect()}
    assert re == out
    epoch2 = {r.doc_id: r.pos
              for r in SM.deterministic_shuffle(docs, "doc_id", salt="e2").collect()}
    assert epoch2 != out


def test_cms_overcount_only_and_heavy_hitter_accuracy(spark, docs):
    """Count-min guarantees: every point estimate ≥ the true count, and
    the heavy hitters (whose counts dwarf the εN collision noise) are
    estimated exactly or near-exactly at d=4, w=1024."""
    from map_reduce_folds_spark.operators import sketches as K

    toks = docs.select(F.explode(T.tokenize("text")).alias("tok"))
    cells = K.cms_cells(toks, "tok", d=4, w=1024)
    est = {r["tok"]: r["est"]
           for r in K.cms_estimate(cells, toks.distinct(), "tok",
                                   d=4, w=1024).collect()}
    true = {r["tok"]: r["n"]
            for r in toks.groupBy("tok").agg(
                F.count(F.lit(1)).alias("n")).collect()}
    assert set(est) == set(true)
    assert all(est[t] >= n for t, n in true.items())  # never undercounts
    top_true = sorted(true, key=lambda t: (-true[t], t))[:10]
    for t in top_true:
        assert est[t] <= true[t] * 1.05 + 50, (t, true[t], est[t])


def test_cms_merge_equals_whole(spark, docs):
    """Sketch additivity: cms(A) ⊕ cms(B) must equal cms(A ∪ B) cell for
    cell — the mergeable-artifact property a per-slice 100 TB build needs."""
    from map_reduce_folds_spark.operators import sketches as K

    toks = docs.select("doc_id", F.explode(T.tokenize("text")).alias("tok"))
    a = K.cms_cells(toks.filter("doc_id % 2 = 0"), "tok", d=4, w=256)
    b = K.cms_cells(toks.filter("doc_id % 2 = 1"), "tok", d=4, w=256)
    merged = {(r["r"], r["c"]): r["cnt"]
              for r in K.cms_merge(a, b).collect()}
    whole = {(r["r"], r["c"]): r["cnt"]
             for r in K.cms_cells(toks, "tok", d=4, w=256).collect()}
    assert merged == whole


def test_sketch_union_hll_bounds(spark):
    """Merged per-slice HLL sketches must estimate within HLL(lgk=12)
    error of the exact distinct count (union-merge loses no accuracy)."""
    from map_reduce_folds_spark.queries import QUERIES

    rows = QUERIES["sketch_union_hll"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r.nd_est - r.nd_exact) <= max(2, 0.05 * r.nd_exact), r


def test_hll_bias_corrected_band(spark):
    """HLL++-style empirical bias correction (p=12, the (2.5m, 5m] raw
    band): out-of-sample cardinalities across the band estimate within 3%
    of truth (the uncorrected raw estimator measured up to 5.6% high near
    the linear-counting handoff), mean within 2%.  Tightens the generic 5%
    sketch bound inside the corrected band."""
    from map_reduce_folds_spark.operators import sketches as K

    errs = []
    for n in (10_000, 11_000, 12_500, 14_000, 16_000, 18_000, 20_000):
        df = spark.range(1, n + 1).select(
            F.concat(F.lit(f"band-{n}-"), F.col("id")).alias("s"),
            F.lit("g").alias("g"))
        sk = K.hll_sketch(df, "s", ["g"], p=12)
        est = sk.groupBy("g").agg(K.hll_estimate(12).alias("e")).first()["e"]
        err = abs(est - n) / n
        assert err <= 0.03, (n, est, err)
        errs.append(err)
    assert sum(errs) / len(errs) <= 0.02, errs


def test_blocked_matmul_equals_bruteforce(emb):
    """Broadcast-model block scoring is EXACT: same (pairs, cosines) as the
    broadcast-join brute force, bitwise."""
    q = emb.filter("vec_id < 16")
    bf = {(r.query_id, r.neighbor_id): r.cos_sim
          for r in S.brute_force_topk(q, emb, k=10).collect()}
    bl = {(r.query_id, r.neighbor_id): r.cos_sim
          for r in S.blocked_matmul_topk(q, emb, k=10).collect()}
    assert set(bf) == set(bl)
    assert all(bf[p] == bl[p] for p in bf)


def test_blocked_matmul_rejects_oversized_query_set(emb):
    """No silent caps (r6 verdict #2): a query side larger than
    max_queries raises instead of answering only the first block."""
    import pytest

    with pytest.raises(ValueError, match="max_queries"):
        S.blocked_matmul_topk(emb.filter("vec_id < 8"), emb, k=3,
                              max_queries=4)
    # exactly max_queries is fine
    out = S.blocked_matmul_topk(emb.filter("vec_id < 4"), emb, k=3,
                                max_queries=4)
    assert out.select("query_id").distinct().count() == 4


def test_sketch_accuracy(spark):
    from map_reduce_folds_spark.queries import QUERIES

    rows = QUERIES["sketch_distinct_approx"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r.nd_approx - r.nd_exact) <= max(2, 0.05 * r.nd_exact)

    q = {r.k: (r.q25, r.q50, r.q75) for r in
         QUERIES["sketch_quantiles_approx"](spark, SF_DIR).collect()}
    from map_reduce_folds_spark.sources import load_table
    li = load_table(spark, SF_DIR, "lineitem").select("l_returnflag", "l_quantity").collect()
    import collections
    by_k = collections.defaultdict(list)
    for r in li:
        by_k[r.l_returnflag].append(r.l_quantity)
    import math

    for k, (q1, q2, q3) in ((k, v) for k, v in q.items()):
        vals = sorted(by_k[k])
        n = len(vals)
        for frac, est in [(0.25, q1), (0.5, q2), (0.75, q3)]:
            # histogram sketch: value error <= one bucket width (2.0)
            # around the exact ceil(frac*n)-th value
            exact = vals[min(n - 1, math.ceil(frac * n) - 1)]
            assert abs(est - exact) <= 2.0, (k, frac, est, exact)


def test_percentile_approx_native(spark):
    """Spark's Greenwald-Khanna percentile_approx — interop demonstration
    (the registered query uses the oracle-exact histogram sketch); GK's
    rank-error contract is +-1/accuracy."""
    from map_reduce_folds_spark.sources import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    rows = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("q50")).collect()
    import collections
    by_k = collections.defaultdict(list)
    for r in li.select("l_returnflag", "l_quantity").collect():
        by_k[r.l_returnflag].append(r.l_quantity)
    for r in rows:
        vals = sorted(by_k[r.l_returnflag])
        n = len(vals)
        import bisect
        lo = bisect.bisect_left(vals, r.q50)
        hi = bisect.bisect_right(vals, r.q50)
        assert lo - 0.02 * n - 1 <= 0.5 * n <= hi + 0.02 * n + 1


def test_hll_native_datasketches(spark, docs):
    """Spark's binary DataSketches HLL path (hll_sketch_agg / union / 
    estimate) — kept as the interop demonstration; the registered queries
    use the portable relational HLL (operators/sketches.py) whose estimate
    is oracle-exact."""
    import pyspark.sql.functions as F

    sk = (docs.withColumn("slice", F.col("doc_id") % 4)
          .groupBy("lang", "slice").agg(F.hll_sketch_agg("text", 12).alias("sk")))
    est = {r.lang: r.nd for r in
           sk.groupBy("lang").agg(
               F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("nd")).collect()}
    exact = {r.lang: r.nd for r in
             docs.groupBy("lang").agg(F.countDistinct("text").alias("nd")).collect()}
    for lang, nd in exact.items():
        assert abs(est[lang] - nd) <= max(2, 0.05 * nd)


def test_hll_merge_is_max(spark, docs):
    """Portable HLL sketches merge by register MAX: merging 4 slice
    sketches equals building one sketch over the whole corpus — the
    monoid property that makes the sketch a mergeable per-dataset
    artifact."""
    import pyspark.sql.functions as F

    from map_reduce_folds_spark.operators import sketches as K

    sliced = K.hll_sketch(docs.withColumn("slice", F.col("doc_id") % 4),
                          "text", ["lang", "slice"], p=12)
    merged = sliced.groupBy("lang", "reg").agg(F.max("rank").alias("rank"))
    direct = K.hll_sketch(docs, "text", ["lang"], p=12)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in direct.collect()}


def test_ewma_last_semantics(spark):
    """Hand recursion check (seeded with the first observation), α=1/2
    exactness, same-timestamp tie-break by the tiebreak column, and
    partitioning invariance."""
    from datetime import datetime

    from map_reduce_folds_spark.operators.windows import ewma_last

    t = datetime(2024, 1, 1)
    rows = [(1, t, 1, 8.0), (2, t, 1, 4.0),   # same ts: eid order
            (3, datetime(2024, 1, 2), 1, 2.0),
            (4, t, 2, 5.0)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    got = {r.user_id: (r.n_events, r.ewma)
           for r in ewma_last(df, "user_id", "ts", "value",
                              tiebreak_col="event_id").collect()}
    # user 1: e=8 -> .5*4+.5*8=6 -> .5*2+.5*6=4 (all exact)
    assert got[1] == (3, 4.0)
    assert got[2] == (1, 5.0)
    rep = {r.user_id: r.ewma
           for r in ewma_last(df.repartition(7), "user_id", "ts", "value",
                              tiebreak_col="event_id").collect()}
    assert rep == {1: 4.0, 2: 5.0}


def test_holt_last_matches_reference(spark):
    """holt_last equals the contract-form Python recursion bitwise on a
    random series (seed l=x₁, b=0; expanded trend update — see the
    operator docstring's DuckDB list_reduce note), ties break by the
    tiebreak column, and the result is partitioning-invariant."""
    import random
    from datetime import datetime, timedelta

    from map_reduce_folds_spark.operators.windows import holt_last

    rng = random.Random(31)
    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(seconds=i * 7), i % 3,
             round(rng.uniform(-50, 150), 2)) for i in range(120)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    got = {r.user_id: (r.n_events, r.level, r.trend, r.forecast)
           for r in holt_last(df, "user_id", "ts", "value",
                              tiebreak_col="event_id", alpha_halves=2,
                              beta_halves=2, horizon=3).collect()}
    a, b = 0.25, 0.25
    for u in (0, 1, 2):
        series = [v for (_e, _t, uu, v) in rows if uu == u]
        l, tr, n = 0.0, 0.0, 0
        for x in series:
            if n == 0:
                l, tr = x, 0.0
            else:
                nl = a * x + (1 - a) * (l + tr)
                ntr = (b * (a * (x - l) + (1 - a) * tr)
                       + (1 - b) * tr)
                l, tr = nl, ntr
            n += 1
        assert got[u] == (n, l, tr, l + 3.0 * tr)
    rep = {r.user_id: r.level
           for r in holt_last(df.repartition(7), "user_id", "ts", "value",
                              tiebreak_col="event_id", alpha_halves=2,
                              beta_halves=2, horizon=3).collect()}
    assert rep == {u: got[u][1] for u in got}


def test_holt_tracks_trend_ewma_lags(spark):
    """On a pure linear ramp, Holt's 1-step forecast lands near the true
    next value while EWMA (no trend state) lags far below it — the
    reason the family earns the second smoothing row."""
    from datetime import datetime, timedelta

    from map_reduce_folds_spark.operators.windows import ewma_last, holt_last

    t0 = datetime(2024, 1, 1)
    rows = [(i, t0 + timedelta(seconds=i), 1, float(10 * i))
            for i in range(80)]  # next true value would be 800
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    h = holt_last(df, "user_id", "ts", "value", tiebreak_col="event_id",
                  alpha_halves=1, beta_halves=1, horizon=1).collect()[0]
    w = ewma_last(df, "user_id", "ts", "value", tiebreak_col="event_id",
                  alpha_halves=1).collect()[0]
    assert abs(h.forecast - 800.0) < 2.0     # trend captured
    assert 800.0 - w.ewma > 8.0              # EWMA lags a full step+


def test_holt_alpha_guard(spark):
    import pytest as _pytest

    from map_reduce_folds_spark.operators.windows import holt_last

    with _pytest.raises(ValueError, match="alpha_halves"):
        holt_last(None, "k", "ts", "v", alpha_halves=0)


def test_hll_sliding_merge_equals_direct_window_sketch(spark):
    """The sketch-reuse identity: merging a window's bucket sketches
    (register-wise max) must give EXACTLY the estimate of a sketch built
    directly on that window's events — max is associative, so bucket
    granularity is invisible.  Also sanity: estimates near the exact
    distinct counts."""
    from datetime import datetime, timedelta

    from map_reduce_folds_spark.operators import sketches as K2

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 4 half-hour buckets with overlapping user populations
    for b, users in enumerate([range(0, 60), range(30, 90),
                               range(60, 120), range(0, 15)]):
        for u in users:
            rows.append((eid, base + timedelta(minutes=30 * b, seconds=u),
                         u))
            eid += 1
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, "
                                     "user_id bigint")
    bucket_us = 1_800_000_000
    got = {r.win_start_us: r.nd_est
           for r in K2.hll_sliding_estimate(
               df, "ts", F.col("user_id").cast("string"),
               bucket_us, 2, p=12).collect()}
    base_us = int((base - datetime(1970, 1, 1)).total_seconds() * 1e6)
    from map_reduce_folds_spark.timeutil import epoch_us as _eus

    for win_start, est in got.items():
        lo, hi = win_start, win_start + 2 * bucket_us
        sub = df.where((_eus(F.col("ts")) >= lo) & (_eus(F.col("ts")) < hi))
        direct = (K2.hll_sketch(sub, F.col("user_id").cast("string"), [])
                  .agg(K2.hll_estimate().alias("e")).first()["e"])
        assert est == direct, win_start
        exact = sub.select("user_id").distinct().count()
        assert abs(est - exact) / max(exact, 1) < 0.1
    # the two fully-covered interior windows exist
    assert base_us + bucket_us in got and base_us in got


def test_skipgram_pair_generation(spark, tmp_path):
    """The single-scan concatenated slice-and-zip must enumerate exactly
    the forward-window pairs: for 'a b c d' and w=3 → (a,b) (b,c) (c,d)
    at +1, (a,c) (b,d) at +2, (a,d) at +3; short docs contribute only
    the offsets they can."""
    import os

    from map_reduce_folds_spark.queries.llm import skipgram_pmi

    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        # 6 copies so every pair clears the c_ab >= 5 support threshold
        [(i, "a b c d") for i in range(6)],
        "doc_id bigint, text string",
    ).write.parquet(p)
    got = {(r.a, r.b): r.c_ab
           for r in skipgram_pmi(spark, os.path.dirname(p)).collect()}
    assert got == {("a", "b"): 6, ("b", "c"): 6, ("c", "d"): 6,
                   ("a", "c"): 6, ("b", "d"): 6, ("a", "d"): 6}


def test_source_overlap_matrix_hand_case(spark):
    """Two sources sharing half of one's shingles: containment = common
    over the SMALLER inventory; disjoint sources emit no row."""
    rows = [
        (1, "s1", "a b c d e"),        # shingles: abc bcd cde (3)
        (2, "s2", "a b c d x y z"),    # abc bcd cdx dxy xyz (5)
        (3, "s3", "p q r s t"),        # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {(r.src_a, r.src_b): (r.common, r.sz_a, r.sz_b, r.containment)
           for r in D.source_overlap_matrix(df).collect()}
    assert got == {("s1", "s2"): (2, 3, 5, 2 / 3)}   # abc, bcd shared


def test_token_entropy_semantics(spark):
    """Entropy 0 for a constant token, ln(k) for k uniform tokens, and
    the hand value for a skewed mix."""
    import math

    from map_reduce_folds_spark.operators.text import token_entropy

    rows = [(1, "x x x x"), (2, "a b c d"), (3, "a a b")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.e for r in df.select(
        "doc_id", token_entropy("text").alias("e")).collect()}
    assert got[1] == 0.0
    assert got[2] == round(math.log(4), 9)
    want3 = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert abs(got[3] - want3) < 1e-9


def test_ks_statistic_semantics(spark, docs):
    """KS = 0 on identical samples, 1 on disjoint supports, and a hand
    value on a small case; partitioning-independent (repartition must
    not change the bit pattern)."""
    from map_reduce_folds_spark.operators.quality import ks_statistic

    same = ks_statistic(docs, docs, "n_chars").first()
    assert same["ks"] == 0.0 and same["n_a"] == same["n_b"]

    a = spark.createDataFrame([(i, 1) for i in range(4)], "id bigint, v int")
    b = spark.createDataFrame([(i, 9) for i in range(6)], "id bigint, v int")
    assert ks_statistic(a, b, "v").first()["ks"] == 1.0

    # hand case: a = {1,1,2,3}, b = {2,3,3,4} -> CDF gaps at v=1: |.5-0|,
    # v=2: |.75-.25|, v=3: |1-.75|, v=4: 0 -> max .5
    a2 = spark.createDataFrame([(1, 1), (2, 1), (3, 2), (4, 3)],
                               "id bigint, v int")
    b2 = spark.createDataFrame([(1, 2), (2, 3), (3, 3), (4, 4)],
                               "id bigint, v int")
    assert ks_statistic(a2, b2, "v").first()["ks"] == 0.5
    assert ks_statistic(a2.repartition(7), b2.repartition(5), "v") \
        .first()["ks"] == 0.5


def test_mad_outliers_robust_vs_zscore(spark):
    """The point of the MAD gate: a BATCH of corrupt rows inflates the
    mean/stddev enough to hide itself from a 3-sigma z-score, but cannot
    move the median/MAD (50% breakdown) — the gate still flags it.  Also
    pins the exact lower-median tie-break and the MAD=0 edge."""
    import statistics

    from map_reduce_folds_spark.operators.quality import mad_outliers

    normal = [(i, "g", 100 + (i % 5)) for i in range(1, 21)]   # 100..104
    corrupt = [(100 + i, "g", 10_000) for i in range(4)]        # 4 rows
    df = spark.createDataFrame(normal + corrupt,
                               "doc_id bigint, grp string, v bigint")
    got = {r.doc_id: (r.med, r.mad, r.is_outlier)
           for r in mad_outliers(df, "grp", "v", "doc_id", k=3.0).collect()}
    # median/MAD computed from the 24 values, lower-median rank selection
    vals = sorted([v for _, _, v in normal + corrupt])
    med = vals[(len(vals) + 1) // 2 - 1]
    mad = sorted(abs(v - med) for v in vals)[(len(vals) + 1) // 2 - 1]
    assert got[1] == (med, mad, False)
    for i in range(4):
        assert got[100 + i][2] is True          # corrupt rows flagged
    assert all(not got[i][2] for i, _, _ in normal)
    # the z-score comparison the docstring claims: 4/24 rows at 10k push
    # sigma so high that 10k sits within 3 sigma — the naive gate misses
    xs = [v for _, _, v in normal + corrupt]
    mu, sd = statistics.mean(xs), statistics.pstdev(xs)
    assert abs(10_000 - mu) <= 3 * sd

    # MAD = 0 (over half the group identical): any deviation is flagged
    const = [(i, "c", 7) for i in range(1, 10)] + [(99, "c", 8)]
    df2 = spark.createDataFrame(const, "doc_id bigint, grp string, v bigint")
    got2 = {r.doc_id: r.is_outlier
            for r in mad_outliers(df2, "grp", "v", "doc_id").collect()}
    assert got2[99] is True
    assert all(not got2[i] for i in range(1, 10))


def test_oov_rate_hand_case_and_plan(spark):
    """Vocabulary = top-V by (count DESC, token ASC) — deterministic
    tie-break; OOV counted per OCCURRENCE; the vocab stage must compile
    to a distributed top-k (TakeOrderedAndProject), never a single-task
    global sort, and the membership join must broadcast."""
    from map_reduce_folds_spark.operators.quality import oov_rate

    rows = [
        (1, "a a a b b c"),   # a:3 b:2 c:1 corpus-wide (+ doc 2 below)
        (2, "a b d d"),       # d:2
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # corpus counts: a=4, b=3, d=2, c=1 -> vocab_size=2 keeps {a, b}
    got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
           for r in oov_rate(df, vocab_size=2).collect()}
    assert got[1] == (6, 1, 1 / 6)   # only 'c' is OOV
    assert got[2] == (4, 2, 0.5)     # the two 'd's
    # tie-break: c and a-count ties resolved by token ASC — vocab_size=3
    # admits d (2) not c (1); with a c/d tie the lexicographic token wins
    got3 = {r.doc_id: r.n_oov
            for r in oov_rate(df, vocab_size=3).collect()}
    assert got3 == {1: 1, 2: 0}
    plan = oov_rate(df, vocab_size=2)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_drift_psi_semantics(spark, docs):
    """PSI properties: identical snapshots score ~0; a location-shifted
    snapshot scores clearly higher; symmetry PSI(a,b) == PSI(b,a) (the
    formula is symmetric under p<->q sign flips)."""
    from map_reduce_folds_spark.operators.quality import drift_psi

    same = drift_psi(docs, docs, "n_chars", 0.0, 600.0, 12).first()
    assert same["psi"] == 0.0 and same["n_a"] == same["n_b"]
    shifted = docs.withColumn("n_chars", F.col("n_chars") + F.lit(200))
    drift = drift_psi(docs, shifted, "n_chars", 0.0, 600.0, 12).first()
    assert drift["psi"] > 0.25, drift["psi"]  # "broken upstream" band
    rev = drift_psi(shifted, docs, "n_chars", 0.0, 600.0, 12).first()
    assert abs(rev["psi"] - drift["psi"]) < 1e-9


@pytest.mark.parametrize("n_clusters,per", [(16, 256), (64, 1024)])
def test_ivf_auto_bits_recall_two_sizes(spark, n_clusters, per):
    """Auto-sized IVF cell geometry (round 6): n_bits grows with corpus
    cardinality (3 bits at 4k vecs, 5 bits at 64k — occupancy ≈ 2048
    either way) while recall on clustered data holds at both sizes."""
    import math

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((n_clusters, 64))
    pts = (centers[:, None, :]
           + 0.15 * rng.standard_normal((n_clusters, per, 64))).reshape(-1, 64)
    pdf = pd.DataFrame({
        "vec_id": np.arange(len(pts), dtype=np.int64),
        "embedding": [r.tolist() for r in pts],
    })
    df = spark.createDataFrame(pdf).repartition(16)
    n = len(pts)
    bits = max(3, math.ceil(math.log2(n / 2048))) if n > 2048 else 3
    assert (bits > 3) == (n_clusters == 64)  # the sizes span the bit step
    q = df.filter("vec_id % 4096 = 0").limit(5)
    truth = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(q, df, k=10).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.ivf_srp_topk(q, df, k=10,
                                      corpus_count=n).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"auto-IVF recall {recall:.2f} at n={n}"


# ---------------------------------------------------------------------------
# Line-level corpus dedup (C4-style)
# ---------------------------------------------------------------------------

def test_line_dedup_keep_first_semantics(spark):
    """Global keep-first: later copies of a line vanish (across AND within
    documents); first occurrence = minimal (doc_id, line_no)."""
    from map_reduce_folds_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha\nbeta"), (2, "beta\ngamma"), (3, "alpha\ngamma"),
         (4, "delta\ndelta")],
        ["doc_id", "text"],
    )
    out = D.dedup_lines_corpus(docs, "doc_id", "text").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["new_text"] == "alpha\nbeta"   # both first occurrences
    assert by_id[2]["new_text"] == "gamma"         # beta already seen in doc 1
    assert by_id[3]["new_text"] == ""              # every line seen earlier
    assert by_id[3]["n_kept"] == 0 and by_id[3]["n_lines"] == 2
    assert by_id[4]["new_text"] == "delta"         # within-doc repeat removed
    assert by_id[4]["n_kept"] == 1 and by_id[4]["n_lines"] == 2


def test_line_dedup_preserves_order(spark):
    """Surviving lines re-join in original document order even when the
    kept set is non-contiguous."""
    from map_reduce_folds_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "x"), (2, "a\nx\nb\nx\nc")], ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["new_text"]
           for r in D.dedup_lines_corpus(docs, "doc_id", "text").collect()}
    assert out[2] == "a\nb\nc"


def test_pseudo_lines_cover_text_exactly(spark):
    """Pseudo-lines partition the token sequence: non-overlapping, in
    order, re-joining them reproduces the document."""
    from map_reduce_folds_spark.operators import dedup as D
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(23))), (2, "a b")],
        ["doc_id", "text"],
    )
    lines = D.pseudo_lines(docs, "doc_id", "text", size=10)
    re = D.reassemble_lines(lines, "doc_id", sep=" ")
    back = {r["doc_id"]: r for r in re.collect()}
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert back[1]["new_text"] == orig[1] and back[1]["n_kept"] == 3
    assert back[2]["new_text"] == orig[2] and back[2]["n_kept"] == 1
    # line sizes: full chunks of 10, last chunk short
    sizes = [r["n"] for r in lines.where("doc_id = 1")
             .select(F.size(F.split("line", " ")).alias("n"))
             .orderBy("line").collect()]
    assert sorted(sizes) == [3, 10, 10]


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

def test_weighted_sample_proportionality(spark):
    """Items with 9x the weight should dominate the sample across
    independent salts (fixed salts — deterministic, no flake)."""
    from map_reduce_folds_spark.operators import sampling as SM

    rows = [(i, 9.0 if i < 250 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "w"]).cache()
    heavy_total = total = 0
    for salt in ("s0", "s1", "s2", "s3", "s4"):
        got = SM.weighted_sample_exact(df, "w", 50, "id", salt=salt).collect()
        assert len(got) == 50
        heavy = sum(1 for r in got if r["id"] < 250)
        assert heavy > 50 - heavy, f"salt {salt}: heavy={heavy}/50"
        heavy_total += heavy
        total += 50
    # E[heavy fraction] ≈ 0.9 for w-ratio 9:1 at small n/N; allow slack
    assert 0.7 < heavy_total / total <= 1.0


def test_weighted_sample_excludes_nonpositive(spark):
    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)], ["id", "w"])
    got = {r["id"] for r in SM.weighted_sample_exact(df, "w", 10, "id").collect()}
    assert got == {1, 5}


def test_weighted_sample_grouped_and_presplit_equal(spark):
    """Per-group form returns exactly n per group; the pre_split tournament
    selects the identical rows (the ES key is a total order)."""
    from map_reduce_folds_spark.operators import sampling as SM

    rows = [(i, f"g{i % 3}", float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "g", "w"]).cache()
    plain = SM.weighted_sample_exact(df, "w", 5, "id", group_cols=["g"])
    split = SM.weighted_sample_exact(df, "w", 5, "id", group_cols=["g"],
                                     pre_split=4)
    p = {(r["g"], r["id"]) for r in plain.collect()}
    s = {(r["g"], r["id"]) for r in split.collect()}
    assert p == s
    from collections import Counter
    assert all(v == 5 for v in Counter(g for g, _ in p).values())


# ---------------------------------------------------------------------------
# Bloom filter semi-join reduction
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_prunes(spark):
    from map_reduce_folds_spark.operators import sketches as K
    from pyspark.sql import functions as F

    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    dim = spark.range(0, 20000, 137).select(F.col("id").alias("dk"))  # 147 keys
    mask = K.bloom_mask(K.bloom_bits(dim, "dk", n_bits=1 << 14), 1 << 14)
    pruned = fact.where(K.bloom_might_contain("k", mask, 1 << 14))
    kept = {r["k"] for r in pruned.collect()}
    members = {r["dk"] for r in dim.collect()}
    assert members <= kept, "false negative: a member key was pruned"
    # 147 keys × 4 probes in 16k bits → fp rate ~0.1%; require real pruning
    assert len(kept) < 20000 * 0.05


def test_bloom_prune_join_equals_plain_join(spark):
    from map_reduce_folds_spark.operators import sketches as K
    from pyspark.sql import functions as F

    fact = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    dim = spark.range(0, 5000, 61).select(F.col("id").alias("dk"))
    got = K.bloom_prune_join(fact, dim, "k", "dk", n_bits=1 << 12)
    plain = fact.join(dim, fact["k"] == dim["dk"], "inner")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))
    semi = K.bloom_prune_join(fact, dim, "k", "dk", how="semi")
    plain_semi = fact.join(dim, fact["k"] == dim["dk"], "left_semi")
    assert sorted(map(tuple, semi.collect())) == sorted(map(tuple, plain_semi.collect()))


def test_unigram_logprob_semantics(spark):
    """Hand-computed check: rare-token docs score lower; values match the
    closed-form mean of ln(count/total)."""
    import math

    from map_reduce_folds_spark.operators import quality as Q

    # corpus: 'a' appears 4x, 'b' 2x, 'z' 1x; total 7 tokens
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b"), (3, "z")], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           Q.unigram_logprob(docs, "doc_id", "text").collect()}
    exp_common = (2 * math.log(4 / 7) + math.log(2 / 7)) / 3
    exp_rare = math.log(1 / 7)
    assert got[1]["n_tokens"] == 3
    assert abs(got[1]["mean_logprob"] - exp_common) < 1e-8
    assert abs(got[3]["mean_logprob"] - exp_rare) < 1e-8
    assert got[3]["mean_logprob"] < got[1]["mean_logprob"]


def test_unigram_logprob_partitioning_invariant(spark):
    """The sorted-fold sum must give the identical 9-decimal score under
    different partitionings (float addition order pinned)."""
    from map_reduce_folds_spark.operators import quality as Q
    from map_reduce_folds_spark.sources import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    a = {(r["doc_id"], r["mean_logprob"])
         for r in Q.unigram_logprob(d).collect()}
    b = {(r["doc_id"], r["mean_logprob"])
         for r in Q.unigram_logprob(d.repartition(13)).collect()}
    assert a == b


def test_observe_metrics_ride_the_action(spark):
    """quality.observe computes stage metrics during the SAME action —
    values match a direct aggregation."""
    from map_reduce_folds_spark.operators import quality as Q
    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    filtered = df.where("v > 2")
    out, obs = Q.observe(filtered, "gate", {
        "n": F.count(F.lit(1)),
        "sum_v": F.sum("v"),
    })
    n_rows = out.count()  # the action the metrics ride on
    got = obs.get
    assert got["n"] == n_rows == 700
    assert got["sum_v"] == sum(v for v in range(10) if v > 2) * 100


def test_negative_samples_never_self_and_complete(spark):
    """Every row draws exactly k negatives, never itself; negatives are
    valid corpus ids; re-salting changes the draw."""
    from map_reduce_folds_spark.operators import sampling as SM
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.col("id").alias("doc"))
    out = SM.negative_samples(df, "doc", 3).collect()
    assert len(out) == 300
    ids = set(range(100))
    for r in out:
        assert r["neg_id"] in ids
        assert r["neg_id"] != r["doc"], "self-negative"
    a = {(r["doc"], r["neg_idx"], r["neg_id"]) for r in out}
    b = {(r["doc"], r["neg_idx"], r["neg_id"])
         for r in SM.negative_samples(df, "doc", 3, salt="other").collect()}
    assert a != b  # fresh draw under a new salt
    c = {(r["doc"], r["neg_idx"], r["neg_id"])
         for r in SM.negative_samples(df.repartition(7), "doc", 3).collect()}
    assert a == c  # partitioning-invariant


def test_decontaminate_drops_eval_copies_keeps_rest(spark):
    from map_reduce_folds_spark.operators import text as T

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),   # full copy
         (2, "completely different words about database engines here"),
         (3, "xy"),                                            # no shingles
         (4, "the quick brown fox and then something else entirely new")],
        ["doc_id", "text"])
    kept = {r["doc_id"] for r in
            T.decontaminate(train, ev, max_overlap=0.5).collect()}
    assert 1 not in kept          # verbatim eval copy dropped
    assert {2, 3}.issubset(kept)  # disjoint + unmeasurable kept
    scores = {r["doc_id"]: r["overlap"] for r in
              T.eval_overlap(train, ev).collect()}
    assert scores[1] == 1.0 and scores[2] == 0.0 and scores[3] == 0.0
    assert 0.0 < scores[4] < 1.0  # partial prefix overlap
    # surviving rows keep all original columns
    cols = T.decontaminate(train, ev).columns
    assert cols == ["doc_id", "text"]


# ---------------------------------------------------------------------------
# KMV / theta sketches
# ---------------------------------------------------------------------------

def test_kmv_distinct_and_intersection_estimates(spark):
    """Distinct estimates within the KMV error bound (~1/sqrt(k)).  The
    intersection estimates are checked relationally by
    sketch_kmv_jaccard_sources (kmv_pairwise_jaccard)."""
    from map_reduce_folds_spark.operators import sketches as K
    from pyspark.sql import functions as F

    k = 256
    a_items = spark.range(0, 4000).select(F.col("id").cast("string").alias("x"))
    sa = K.kmv_sketch(a_items, "x", k=k)
    est_a = sa.agg(K.kmv_distinct_estimate(k).alias("e")).first()["e"]
    assert abs(est_a - 4000) / 4000 < 3 / (k ** 0.5)


def test_kmv_short_sketch_is_exact(spark):
    from map_reduce_folds_spark.operators import sketches as K
    from pyspark.sql import functions as F

    small = spark.range(0, 50).select(F.col("id").cast("string").alias("x"))
    s = K.kmv_sketch(small, "x", k=256)
    est = s.agg(K.kmv_distinct_estimate(256).alias("e")).first()["e"]
    assert est == 50.0


def test_kmv_pairwise_jaccard_relational(spark):
    """The one-plan pairwise estimator recovers a planted 50% overlap and
    reports exactly 0 for disjoint pairs."""
    from map_reduce_folds_spark.operators import sketches as K
    from pyspark.sql import functions as F

    a = spark.range(0, 4000).select(
        F.lit("A").alias("g"), F.col("id").cast("string").alias("x"))
    b = spark.range(2000, 6000).select(
        F.lit("B").alias("g"), F.col("id").cast("string").alias("x"))
    c = spark.range(9000, 9500).select(
        F.lit("C").alias("g"), F.col("id").cast("string").alias("x"))
    sk = K.kmv_sketch(a.union(b).union(c), "x", group_cols=["g"], k=256)
    rows = {(r["group_a"], r["group_b"]): r
            for r in K.kmv_pairwise_jaccard(sk, "g").collect()}
    assert set(rows) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = rows[("A", "B")]
    assert abs(ab["est_intersection"] - 2000) / 2000 < 0.35
    assert rows[("A", "C")]["jaccard"] == 0.0
    assert rows[("B", "C")]["est_intersection"] == 0.0


def test_pack_by_token_budget_invariants(spark):
    """Shard ids are contiguous from 0; each shard's token total except
    possibly the last exceeds budget only via its final straddling doc;
    assignment is partitioning-invariant; budget must be positive."""
    import pytest
    from pyspark.sql import functions as F

    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).cast("bigint").alias("n_tok"))
    p = SM.pack_by_token_budget(df, "doc_id", "n_tok", budget=100)
    shards = (p.groupBy("shard_id")
              .agg(F.sum("n_tok").alias("tot"), F.max("n_tok").alias("mx"))
              .collect())
    ids = sorted(r["shard_id"] for r in shards)
    assert ids == list(range(len(ids)))
    for r in shards:
        if r["shard_id"] != ids[-1]:
            # start-offset packing: a straddling doc's overflow counts
            # toward its OWN shard, eating into the next one's budget —
            # so totals sit within one max-doc of the budget either way
            assert r["tot"] >= 100 - 37
        assert r["tot"] < 100 + 37

    # deterministic under repartition
    a = {(r["doc_id"], r["shard_id"]) for r in p.collect()}
    b = {(r["doc_id"], r["shard_id"])
         for r in SM.pack_by_token_budget(
             df.repartition(13), "doc_id", "n_tok", budget=100).collect()}
    assert a == b

    with pytest.raises(ValueError, match="budget"):
        SM.pack_by_token_budget(df, "doc_id", "n_tok", budget=0)


def _py_bpe(texts, n_merges):
    """Pure-Python BPE reference (Sennrich et al. 2016 greedy induction)."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    words = {w: list(w) for w in wc}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (l, r), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, n))
        for w, syms in words.items():
            out, prev = [], None
            for x in syms:
                if prev is None:
                    prev = x
                elif prev == l and x == r:
                    out.append(l + r)
                    prev = None
                else:
                    out.append(prev)
                    prev = x
            if prev is not None:
                out.append(prev)
            words[w] = out
    return merges


def test_bpe_matches_python_reference(spark):
    """The distributed induction must equal the classic sequential
    algorithm merge-for-merge — including the repeat-symbol greedy case
    ('aaaa' under (a,a) → [aa, aa]) and count tie-breaks."""
    from map_reduce_folds_spark.operators import bpe as B

    texts = ["low lower lowest low low", "new newer newest new",
             "wide wider widest", "low newer low",
             "aaaa aaa banana bandana"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    assert B.bpe_learn_merges(df, "text", 10) == _py_bpe(texts, 10)


def test_bpe_merges_sql_mirrors_spark(spark):
    """The unrolled-CTE DuckDB mirror reproduces the Spark induction
    exactly (rank, pair, count) on an ad-hoc corpus."""
    import duckdb

    from map_reduce_folds_spark.operators import bpe as B

    texts = ["sing singing ringing ring", "bring bringing sing",
             "aaa aa baa"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = B.bpe_learn_merges(df, "text", 5)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ",".join(f"('{t}')" for t in texts) + ") t(text)")
    duck = con.execute(B.bpe_merges_sql(5)).fetchall()
    assert duck == [(i + 1, l, r, n) for i, (l, r, n) in enumerate(got)]


def test_bpe_early_stop_and_guard(spark):
    import pytest

    from map_reduce_folds_spark.operators import bpe as B

    df = spark.createDataFrame([("ab ab",)], ["text"])
    # one possible merge, then the vocab is fully merged → early stop
    assert B.bpe_learn_merges(df, "text", 5) == [("a", "b", 2)]
    with pytest.raises(ValueError, match="n_merges"):
        B.bpe_learn_merges(df, "text", 0)


def test_simhash_khop_empty_corpus(spark):
    """A pair-free corpus (every doc a unique far-apart signature) must
    yield an empty hops frame with the right schema, not a crash — the
    oracle's NULL-seed guard has the same semantics."""
    rows = [(1, "alpha beta gamma delta"),
            (2, "completely unrelated words entirely"),
            (3, "third document nothing shared here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = D.simhash_khop_hops(df, max_hamming=0, blocks=4)
    assert out.columns == ["node", "hops"]
    assert out.count() == 0


def test_ngram_jaccard_factored_equals_unfactored(spark, docs):
    """The distinct-set factored Jaccard must yield EXACTLY the
    unfactored pair set with bitwise-identical scores — on the fixture
    AND on a hand corpus with planted exact duplicates (where same-set
    groups actually exercise the clique branch)."""
    rows = [
        (1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e f"),
        (4, "a b c d e z"),              # near-dup of the trio
        (5, "p q r s t u"), (6, "p q r s t u"),
        (7, "completely different words here now"),
    ]
    hand = spark.createDataFrame(rows, "doc_id bigint, text string")
    for corpus in (hand, docs):
        want = {(r.id_a, r.id_b): r.jaccard
                for r in D.ngram_jaccard_pairs(
                    corpus, threshold=0.3).collect()}
        got = {(r.id_a, r.id_b): r.jaccard
               for r in D.ngram_jaccard_pairs_factored(
                   corpus, threshold=0.3).collect()}
        assert got == want
    # non-vacuous: the hand corpus exercises both branches
    hand_pairs = {(r.id_a, r.id_b): r.jaccard
                  for r in D.ngram_jaccard_pairs_factored(
                      hand, threshold=0.3).collect()}
    assert hand_pairs[(1, 2)] == 1.0 and hand_pairs[(5, 6)] == 1.0
    assert 0.3 <= hand_pairs[(1, 4)] < 1.0


def test_containment_factored_equals_unfactored(spark, docs):
    """The set-factored containment must equal the unfactored form row
    for row — including the (sz_a, sz_b) orientation when expanded
    member ids invert the rep ordering (planted by giving the LOWER id
    to the larger set's second member)."""
    rows = [
        (1, "a b c d e"), (4, "a b c d e"),          # same set, ids 1,4
        (2, "a b c d x y z"), (3, "a b c d x y z"),  # same set, ids 2,3
        (5, "p q r s t"),
    ]
    hand = spark.createDataFrame(rows, "doc_id bigint, text string")
    for corpus, th in ((hand, 0.5), (docs, 0.8)):
        want = {(r.id_a, r.id_b): (r.common, r.sz_a, r.sz_b, r.containment)
                for r in D.shingle_containment_pairs(
                    corpus, threshold=th).collect()}
        got = {(r.id_a, r.id_b): (r.common, r.sz_a, r.sz_b, r.containment)
               for r in D.shingle_containment_pairs_factored(
                   corpus, threshold=th).collect()}
        assert got == want
    # non-vacuous: the hand case exercises clique + both orientations
    hand_got = {(r.id_a, r.id_b)
                for r in D.shingle_containment_pairs_factored(
                    hand, threshold=0.5).collect()}
    assert {(1, 4), (2, 3), (1, 2), (3, 4)} <= hand_got


def test_simhash_factored_pairs_equal_doc_level(docs):
    """The distinct-signature factored pair generation must yield EXACTLY
    the doc-level pair set — ids and hamming distances."""
    doc_level = {(r.id_a, r.id_b, r.hamming)
                 for r in D.simhash_near_dup_pairs(
                     docs, bits=32, max_hamming=3, blocks=4).collect()}
    factored = {(r.id_a, r.id_b, r.hamming)
                for r in D.simhash_near_dup_pairs_factored(
                    docs, bits=32, max_hamming=3, blocks=4).collect()}
    assert factored == doc_level
    assert doc_level  # non-vacuous on the fixture


def test_simhash_khop_factored_equals_doc_level(spark, docs):
    """Signature-level BFS (simhash_khop_hops → bfs_hops_factored) must
    yield EXACTLY the doc-level bfs_hops over the materialized pair
    graph — same nodes, same hop distances, same auto-picked seed."""
    from map_reduce_folds_spark.operators import graph as G
    from pyspark.sql import functions as F

    pairs = D.simhash_near_dup_pairs_factored(
        docs, bits=32, max_hamming=3, blocks=4).localCheckpoint(eager=True)
    seed = pairs.agg(F.min(F.least("id_a", "id_b"))).first()[0]
    assert seed is not None  # non-vacuous on the fixture
    doc_level = {(r["node"], r["hops"])
                 for r in G.bfs_hops(pairs, [int(seed)], "id_a", "id_b",
                                     max_hops=4).collect()}
    factored = {(r["node"], r["hops"])
                for r in D.simhash_khop_hops(
                    docs, bits=32, max_hamming=3, blocks=4,
                    max_hops=4).collect()}
    assert factored == doc_level
    assert len(doc_level) > 1


def test_simhash_factored_triangles_equal_doc_level(spark, docs):
    """The arithmetic signature-decomposition triangle count must equal
    triangle_count over the materialized doc pair graph — on the fixture
    AND on a hand graph with all three triangle classes."""
    from map_reduce_folds_spark.operators import graph as G

    want = G.triangle_count(
        D.simhash_near_dup_pairs(docs, bits=32, max_hamming=3, blocks=4),
        "id_a", "id_b").first()["n_triangles"]
    got = D.simhash_triangle_count_factored(
        docs, bits=32, max_hamming=3, blocks=4).first()["n_triangles"]
    assert got == want


def test_triangle_list_enumerates_sorted_triples(spark):
    from map_reduce_folds_spark.operators import graph as G

    # K4 on {1,2,3,4} plus a pendant edge: 4 triangles
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        ["src", "dst"])
    got = {(r["x"], r["y"], r["z"])
           for r in G.triangle_list(edges).collect()}
    assert got == {(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)}


def test_cluster_savings_accounting(spark):
    """Rep election keeps the LARGEST doc (ties → smallest id); the
    per-source accounting balances: n_docs = n_kept + n_dropped and
    chars_dropped sums only non-reps.  Exact-duplicate texts guarantee
    hamming-0 clusters regardless of SimHash internals."""
    rows = [
        (1, "alpha beta gamma delta", "web", 100),
        (2, "alpha beta gamma delta", "web", 300),   # same text as 1, bigger
        (3, "alpha beta gamma delta", "books", 300),  # tie with 2 → min id 2
        (4, "totally unrelated text here", "web", 50),  # singleton
    ]
    d = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string, n_chars bigint")
    got = {r.source: (r.n_docs, r.n_kept, r.n_dropped, r.chars_dropped)
           for r in D.cluster_savings(d).collect()}
    # docs 1,2,3 share one cluster; rep = max chars (300), tie → id 2 (web)
    assert got == {"web": (3, 2, 1, 100), "books": (1, 0, 1, 300)}
    for n_docs, n_kept, n_dropped, _ in got.values():
        assert n_docs == n_kept + n_dropped


def test_jaccard_prefix_filter_equals_unfiltered(spark, docs):
    """Prefix filtering must be LOSSLESS: identical (pair, score) rows
    to the full inverted index, at a loose and a tight threshold, on the
    fixture and a hand case with heavy shared boilerplate (which falls
    out of every prefix — the pruning's whole point)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely different text with no overlap at all here"),
        (5, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    ]
    hand = spark.createDataFrame(rows, "doc_id bigint, text string")
    for corpus, th in ((hand, 0.3), (hand, 0.8), (docs, 0.5), (docs, 0.8)):
        want = {(r.id_a, r.id_b): r.jaccard
                for r in D.ngram_jaccard_pairs(
                    corpus, threshold=th).collect()}
        got = {(r.id_a, r.id_b): r.jaccard
               for r in D.ngram_jaccard_pairs_prefix(
                   corpus, threshold=th).collect()}
        assert got == want
    assert (1, 5) in {(r.id_a, r.id_b) for r in
                      D.ngram_jaccard_pairs_prefix(
                          hand, threshold=0.8).collect()}


def test_bm25_hand_corpus(spark, monkeypatch, tmp_path):
    """BM25 on a 3-doc hand corpus equals the straight formula: doc 1
    (both query terms, short) outranks doc 2 (one term, long); doc 3
    (no terms) is absent."""
    import math

    from map_reduce_folds_spark.queries import llm as L

    rows = [
        (1, "data hash data"),
        (2, "data filler filler filler filler filler"),
        (3, "nothing relevant here"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    pq = str(tmp_path / "documents.parquet")
    d.write.parquet(pq)
    out = {r.doc_id: r.score
           for r in L.bm25_topk_docs(spark, str(tmp_path)).collect()}
    # hand scores: N=3, avglen=(3+6+3)/3=4; k1=1.2, b=0.75
    k1, b, N, avg = 1.2, 0.75, 3, 4.0

    def sc(tf, df, ln):
        idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
        return round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * ln / avg)), 9)

    want1 = round(sc(2, 2, 3.0) + sc(1, 1, 3.0), 9)   # data + hash
    want2 = sc(1, 2, 6.0)                              # data only
    assert out[1] == round(want1, 9) or abs(out[1] - want1) < 1e-12
    assert out[2] == want2 or abs(out[2] - want2) < 1e-12
    assert 3 not in out and out[1] > out[2]


def test_mmr_diversifies_away_from_near_dups(spark):
    """Planted geometry: a and b are near-duplicates of each other (both
    relevant to q), c covers q's other half-space with lower relevance.
    Pure relevance orders a, b, c — MMR at λ=½ must demote b below c
    after a is picked (b's similarity to a exceeds its relevance, c's
    does not).  Int8-code arithmetic checked by hand in the comments."""
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),       # query: codes [127]*4
        (1, [1.0, 1.0, 1.0, 0.0]),       # a: rel 127·381 = 48387
        (2, [1.0, 1.0, 0.99, 0.0]),      # b: rel 48260; sim(b,a) 48260
        (3, [0.0, 0.0, 1.0, 1.0]),       # c: rel 32258; sim(c,a) 16129
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>")
    got = [(r.pick, r.neighbor_id, r.mmr)
           for r in S.mmr_topk(emb, 0, k=3, n_cand=3)
           .orderBy("pick").collect()]
    # step 2: b scores 2·48260 − 48260 = 48260 < c's 2·32258 − 16129
    assert [(p, n) for p, n, _ in got] == [(1, 1), (2, 3), (3, 2)]
    assert got[1][2] == 2 * 32258 - 16129
    # relevance alone would have ordered a, b, c — pinned so the test
    # fails if diversification stops mattering
    assert got[2][2] == 2 * 48260 - 48260


def test_srp_oracle_geometry_matches_auto():
    """The registered embedding-dedup queries run n_planes="auto" while
    their static DuckDB oracles embed (_SRP_PLANES, _SRP_TABLES); the two
    agree only while every committed fixture's embedding count resolves
    auto to the base geometry.  Pin that invariant per sf dir so a grown
    fixture fails HERE, loudly, instead of as a silent oracle mismatch."""
    import os

    import duckdb

    from map_reduce_folds_spark.operators.similarity import auto_srp_params
    from map_reduce_folds_spark.queries.llm import (
        _COS_T, _SRP_PLANES, _SRP_TABLES)

    seen = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(p):
            continue
        n = duckdb.sql(f"SELECT COUNT(*) FROM '{p}'").fetchone()[0]
        assert auto_srp_params(n, _COS_T) == (_SRP_PLANES, _SRP_TABLES), (
            f"{sf}: embeddings grew to {n} rows; auto geometry "
            f"{auto_srp_params(n, _COS_T)} no longer matches the oracle's "
            f"pinned ({_SRP_PLANES}, {_SRP_TABLES}) — regenerate the oracle")
        # the t09 registration buckets the perturbed union (n + n//10
        # rows) at threshold 0.9 — same pinned base geometry required
        from map_reduce_folds_spark.queries.llm import _COS_T09

        assert auto_srp_params(n + n // 10, _COS_T09) == \
            (_SRP_PLANES, _SRP_TABLES), (
            f"{sf}: t09 union geometry diverged from the pinned oracle")
        seen += 1
    assert seen, "no fixture dirs found"


def test_bpe_encode_engines_agree_and_hand_case(spark):
    """Encode semantics: catalyst (chained merge folds) and arrow (the
    per-batch word-cache loop) agree row-for-row on an adversarial
    corpus (repeated symbols, interdependent merges), and a hand case
    verifies the greedy non-overlapping replay: after merges (a,a) then
    (aa,a), 'aaaaa' → [aa, aa, a] → [aaa, aa]? NO — greedy single-pass:
    (a,a) turns 'aaaaa' into [aa,aa,a]; (aa,a) then pairs aa+a only at
    positions where adjacency holds: [aa,aa,a] → aa,(aa,a)→ [aa,aaa] —
    3 words → 2 tokens for 'aaaaa'... asserted from the implementation
    semantics below, both engines and the SQL mirror agreeing is the
    real pin."""
    from map_reduce_folds_spark.operators import bpe as BP

    rows = [(1, "aaaaa aa a"), (2, "ab ab abab"), (3, "b a ab ba"),
            (4, "aaaa aaaa aaaa"), (5, "x")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    merges = BP.bpe_learn_merges(df, "text", 3)
    cat = {r.doc_id: (r.n_words, r.n_tokens)
           for r in BP.bpe_encode_token_counts(
               df, "doc_id", "text", 3, merges=merges).collect()}
    arr = {r.doc_id: (r.n_words, r.n_tokens)
           for r in BP.bpe_encode_token_counts(
               df, "doc_id", "text", 3, merges=merges,
               engine="arrow").collect()}
    assert cat == arr and len(cat) == 5
    # every doc keeps its word count; token count never exceeds chars
    for (did, text) in rows:
        nw, nt = cat[did]
        words = [w for w in text.split(" ") if w]
        assert nw == len(words)
        assert nt <= sum(len(w) for w in words)
        assert nt >= len(words)  # merges never cross word boundaries
    import pytest

    with pytest.raises(ValueError, match="engine"):
        BP.bpe_encode_token_counts(df, "doc_id", "text", 3,
                                   merges=merges, engine="rust")


def test_bpe_batched_equals_sequential(spark):
    """Batched merge rounds (round 10) must be merge-for-merge identical
    to sequential induction on adversarial corpora: interdependent
    merges (later pairs consume earlier outputs), count ties, repeated
    symbols, and the concat-symbol hazard (a vocabulary symbol equal to
    an accepted pair's concatenation gaining count from the merge)."""
    import random

    from map_reduce_folds_spark.operators import bpe as B

    corpora = [
        ["low lower lowest low low", "new newer newest new",
         "wide wider widest", "low newer low", "aaaa aaa banana bandana"],
        # chain-dependent: best merges build on each other (abcd…)
        ["abcdefgh abcdefgh abcdefgh abcd abcd ab ab ab"],
        # heavy ties on a tiny alphabet
        ["ab ab cd cd ef ef gh gh", "abcd abcd efgh efgh"],
        # repeats: greedy non-overlap inside one word
        ["aaaaaaa aaaa aa", "bbbb bb bbbbbb"],
        # r10-advice reproduction: with batch=4 the batch FILLS at
        # (e,f,11), leaving the tying (b,y,10) unscanned — it overlaps
        # the accepted (a,b), and the (ab,y,10) its merge creates wins
        # the sequential tiebreak over (ac,z,10).  The fixed
        # _batch_accept scans the tie run past a full batch and pops
        # the tying accepted tail.
        ["ac"] * 40 + ["acz"] * 10 + ["ab"] * 5 + ["aby"] * 10
        + ["cd"] * 12 + ["ef"] * 11,
    ]
    rng = random.Random(11)
    for _ in range(2):
        words = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                 for _ in range(30)]
        corpora.append([" ".join(words)])
    for texts in corpora:
        df = spark.createDataFrame([(t,) for t in texts], ["text"])
        want = _py_bpe(texts, 12)
        # local replay (default path: vocab under the cap)
        assert B.bpe_learn_merges(df, "text", 12) == want, texts
        # distributed batched rounds (cap forced off)
        for bsz in (4, 8, 32):
            got = B.bpe_learn_merges(df, "text", 12, batch=bsz,
                                     local_vocab_cap=0)
            assert got == want, (texts, bsz)


def test_bpe_batch_job_bound(spark):
    """m independent merges learn in ceil(m/batch) rounds — pinned via
    the collect-action count (each round runs exactly one top-K collect
    and at most one membership scan)."""
    from map_reduce_folds_spark.operators import bpe as B

    # 8 disjoint two-letter words, each pair independent of the others;
    # distinct frequencies pin the rank order
    texts = [" ".join(
        " ".join([w] * k) for k, w in enumerate(
            ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op"], start=2))]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    got = B.bpe_learn_merges(df, "text", 8, batch=8, local_vocab_cap=0)
    assert got == _py_bpe(texts, 8)
    assert [(l, r) for l, r, _ in got] == \
        [("o", "p"), ("m", "n"), ("k", "l"), ("i", "j"),
         ("g", "h"), ("e", "f"), ("c", "d"), ("a", "b")]
    after = len(tracker.getJobIdsForGroup(None) or [])
    # 1 word-count checkpoint + 1 round: top-K collect + concat scan
    # (+ the final checkpoint's first action) — far below the 8 collects
    # + 8 rewrites of sequential rounds
    assert after - before <= 5, after - before
    # local replay (round 11, default path: vocab under the cap): the
    # ENTIRE induction is ONE Spark job — the (word, freq) collect —
    # regardless of n_merges
    before = len(tracker.getJobIdsForGroup(None) or [])
    assert B.bpe_learn_merges(df, "text", 8) == _py_bpe(texts, 8)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 2, after - before


def test_bpe_local_replay_equals_sequential():
    """The incremental local trainer (pair→count table, pair→words
    index, lazy-invalidation heap) must be merge-for-merge identical to
    the naive sequential reference on random tie-heavy corpora —
    including count increases from created pairs, repeated symbols, and
    pairs whose count returns to a previously-seen value (stale-heap
    aliasing)."""
    import random

    from map_reduce_folds_spark.operators.bpe import _local_bpe_replay
    from collections import Counter

    rng = random.Random(23)
    for trial in range(60):
        alpha = "abcde"[: rng.randint(2, 5)]
        texts = []
        for _ in range(rng.randint(2, 12)):
            w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            texts += [w] * rng.randint(1, 9)
        wc = Counter(w for t in texts for w in t.split(" ") if w)
        n = rng.randint(1, 15)
        got = _local_bpe_replay(sorted(wc.items()), n)
        assert got == _py_bpe(texts, n), (texts, n)


def test_multi_index_blocking_output_invariant(spark, docs):
    """The multi-index pigeonhole generalization must produce EXACTLY the
    classic b=r+1 pair set at every valid block count (the b−r agreeing
    blocks guarantee), including uneven widths; auto selection picks a
    valid b."""
    d = docs.limit(200)
    base = {(r.id_a, r.id_b, r.hamming) for r in D.simhash_near_dup_pairs(
        d, "doc_id", "text", bits=32, max_hamming=3, blocks=4).collect()}
    assert base  # fixture must exercise the join
    for b in (5, 6, 8):
        got = {(r.id_a, r.id_b, r.hamming) for r in D.simhash_near_dup_pairs(
            d, "doc_id", "text", bits=32, max_hamming=3, blocks=b).collect()}
        assert got == base, b
    auto = {(r.id_a, r.id_b, r.hamming) for r in D.simhash_near_dup_pairs(
        d, "doc_id", "text", bits=32, max_hamming=3, blocks="auto").collect()}
    assert auto == base
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3, blocks=3)
    # r10-advice guard: explicit large b would build a C(b, b−r)-way
    # combo explode and a 2^b-literal canonical table on the driver —
    # rejected loudly instead of hanging (blocks=24 → C(24,21)=2024
    # combos; blocks=13 → an 8192-entry table past the cap).
    for bad in (24, 32, 13):
        with pytest.raises(ValueError, match="plan-size cap"):
            D.simhash_near_dup_pairs(
                d, "doc_id", "text", max_hamming=3, blocks=bad)


def test_auto_blocks_ladder():
    """The cost model climbs the ladder as signatures grow: classic r+1
    blocking for small corpora, more blocks once the 2^(bits/(r+1))
    bucket space saturates — and never violates the pigeonhole bound."""
    from map_reduce_folds_spark.operators.dedup import _auto_blocks

    small = _auto_blocks(1000, 32, 3)
    mid = _auto_blocks(30_000, 32, 3)
    big = _auto_blocks(300_000, 32, 3)
    assert small >= 4 and mid >= small and big > mid
    for n in (1, 100, 10**6, 10**9):
        assert _auto_blocks(n, 32, 3) > 3
        assert _auto_blocks(n, 64, 3) > 3


def test_gini_known_values(spark):
    """Equal lengths → 0; the 4-doc [1,1,1,7] case → exact rank-formula
    value (2·(1+2+3+28) − 5·10) / (4·10) = 0.45."""
    from map_reduce_folds_spark.queries.llm import gini_doclen_by_source
    import os
    import tempfile

    rows = [(i, "eq", 5) for i in range(4)] + \
        [(10 + i, "sk", v) for i, v in enumerate([1, 1, 1, 7])]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        ).withColumn("text", F.lit("t")).withColumn("lang", F.lit("en")) \
            .write.parquet(os.path.join(td, "documents.parquet"))
        got = {r.source: (r.n, r.total_chars, r.gini)
               for r in gini_doclen_by_source(spark, td).collect()}
    assert got["eq"] == (4, 20, 0.0)
    assert got["sk"] == (4, 10, 0.45)


def test_zipf_two_rank_slope(spark):
    """freq 4 at rank 1, freq 2 at rank 2 → slope exactly −1
    ((ln2−ln4)/(ln2−ln1))."""
    from map_reduce_folds_spark.queries.llm import zipf_slope_by_lang
    import os
    import tempfile

    text = " ".join(["a"] * 4 + ["b"] * 2)
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, "en", text, len(text), "s")],
            "doc_id long, lang string, text string, n_chars long, "
            "source string",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = zipf_slope_by_lang(spark, td).collect()
    assert [(r.lang, r.n_ranks, r.zipf_slope) for r in got] == \
        [("en", 2, -1.0)]


def test_gopher_repetition_hand_case(spark):
    """'a b a b a' → 4 grams: 'a b'×2, 'b a'×2 → top 0.5, dup 1.0;
    'x y z' → 2 distinct grams → top 0.5, dup 0.0; single token → zero
    grams, NULL fractions."""
    import os
    import tempfile

    from map_reduce_folds_spark.queries.llm import gopher_repetition_signals

    rows = [(1, "a b a b a"), (2, "x y z"), (3, "solo")]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string") \
            .withColumn("lang", F.lit("en")) \
            .withColumn("source", F.lit("s")) \
            .withColumn("n_chars", F.length("text")) \
            .write.parquet(os.path.join(td, "documents.parquet"))
        got = {r.doc_id: (r.n_grams, r.top2gram_frac, r.dup2gram_frac)
               for r in gopher_repetition_signals(spark, td).collect()}
    assert got[1] == (4, 0.5, 1.0)
    assert got[2] == (2, 0.5, 0.0)
    assert got[3] == (0, None, None)


def test_multi_index_blocking_emits_each_pair_once(spark, docs):
    """The smallest-agreeing-subset canonical-combo filter must emit
    every verified pair EXACTLY once (downstream triangle/savings
    arithmetic would silently double-count duplicates) at every block
    count including classic b=4."""
    d = docs.limit(200)
    for b in (4, 6, 8, "auto"):
        rows = D.simhash_near_dup_pairs(
            d, "doc_id", "text", bits=32, max_hamming=3, blocks=b
        ).select("id_a", "id_b").collect()
        pairs = [(r.id_a, r.id_b) for r in rows]
        assert len(pairs) == len(set(pairs)), b
        assert pairs, b


def test_lorenz_curve_hand_case(spark):
    """Four docs of length 1,1,1,7: deciles 1-2 pick rank 1 (share .1),
    3-5 rank 2-ish... exact nearest-rank checks at d=5 (rank 2, cum 2,
    share 0.2) and d=10 (rank 4, cum 10, share 1.0); uniform source
    gives shares d·0.25 at each picked rank."""
    import os
    import tempfile

    from map_reduce_folds_spark.queries.llm import lorenz_curve_doclen

    rows = [(i, "sk", v) for i, v in enumerate([1, 1, 1, 7])] \
        + [(10 + i, "eq", 5) for i in range(4)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        ).withColumn("text", F.lit("t")).withColumn("lang", F.lit("en")) \
            .write.parquet(os.path.join(td, "documents.parquet"))
        got = {(r.source, r.decile): (r.cum_chars, r.share)
               for r in lorenz_curve_doclen(spark, td).collect()}
    assert got[("sk", 5)] == (2, 0.2)
    assert got[("sk", 10)] == (10, 1.0)
    assert got[("eq", 5)] == (10, 0.5)
    # rank index ceil(d*4/10): d=1,2 -> rank 1
    assert got[("sk", 1)] == (1, 0.1) and got[("sk", 2)] == (1, 0.1)


def test_vocab_growth_hand_case(spark):
    """Docs 'a b', 'a c', 'a b': cumulative tokens 2/4/6; distinct
    2/3/3.  Decile cutoffs over 3 docs: ceil(3d/10) → docs 1,1,1,2,2,2,3,3,3,3."""
    import os
    import tempfile

    from map_reduce_folds_spark.queries.llm import vocab_growth_curve

    rows = [(1, "a b"), (2, "a c"), (3, "a b")]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows, "doc_id long, text string") \
            .withColumn("lang", F.lit("en")) \
            .withColumn("source", F.lit("s")) \
            .withColumn("n_chars", F.length("text")) \
            .write.parquet(os.path.join(td, "documents.parquet"))
        got = {r.decile: (r.n_tokens, r.n_distinct)
               for r in vocab_growth_curve(spark, td).collect()}
    for d in (1, 2, 3):
        assert got[d] == (2, 2), d
    for d in (4, 5, 6):
        assert got[d] == (4, 3), d
    for d in (7, 8, 9, 10):
        assert got[d] == (6, 3), d


def test_dsir_logweights_separates_target_domain(spark):
    """DSIR hand-case (Xie et al.): a raw corpus with a distinctive
    target-domain vocabulary — docs sharing the target's grams must
    score HIGHER ln(p_target/p_raw) than docs that don't, and gram
    counts are 2n−1 (unigrams + bigrams) per n-token doc."""
    from map_reduce_folds_spark.operators.quality import dsir_logweights

    rows = [
        (1, "alpha beta alpha beta", True),    # target
        (2, "alpha beta gamma", False),        # raw, target-like
        (3, "delta epsilon zeta eta", False),  # raw, off-domain
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, t boolean")
    got = {r.doc_id: r for r in
           dsir_logweights(df, F.col("t"), "doc_id", "text").collect()}
    assert got[1].n_grams == 7 and got[2].n_grams == 5 \
        and got[3].n_grams == 7
    # per-gram average weight: target-like beats off-domain
    assert got[2].logw / got[2].n_grams > got[3].logw / got[3].n_grams
    # the target doc itself scores highest per gram
    assert got[1].logw / got[1].n_grams > got[2].logw / got[2].n_grams


def test_remove_duplicate_spans_hand_case(spark):
    """Span-rewrite semantics (Lee et al. removal step): the globally
    first occurrence (min (doc_id, pos)) of a duplicated 5-gram
    survives, every later occurrence is cut, overlapping cuts merge,
    and untouched docs pass through verbatim."""
    from map_reduce_folds_spark.operators.dedup import remove_duplicate_spans

    shared = "one two three four five"
    rows = [
        (1, f"intro {shared} outro"),          # first occurrence: kept
        (2, f"head {shared} tail"),            # later occurrence: cut
        (3, f"{shared} six {shared}"),         # within-doc repeat: 2nd cut
        (4, "totally unique words here only"), # untouched
        (5, "shorty"),                         # < n tokens
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in
           remove_duplicate_spans(df, "doc_id", "text", n=5).collect()}
    assert got[1].clean_text == rows[0][1] and got[1].n_removed == 0
    assert got[2].clean_text == "head tail" and got[2].n_removed == 5
    # doc 3: first 5 tokens duplicated (doc 1 wins), "six" kept, trailing
    # repeat cut; the overlapping grams spanning "six" are unique so only
    # the two exact spans go
    assert got[3].clean_text == "six" and got[3].n_removed == 10
    assert got[4].clean_text == rows[3][1] and got[4].n_removed == 0
    assert got[5].clean_text == "shorty" and got[5].n_removed == 0


def test_advice_r13_guards(spark):
    """Round-13 ADVICE fixes, pinned:

    * temperature_mix_sql with a real EXPRESSION source_expr (not a bare
      column) generates valid SQL — the old form joined on
      ``d.lower(source)``;
    * auto_srp_params rejects recall_cos <= 0 loudly (beta would blow up
      at p1 = 0.5 and silently INVERT the geometry below it);
    * the inline_q8 verify path rejects threshold <= 0 (the ulp slack
      would TIGHTEN the lossless prefilter bound there)."""
    import duckdb

    from map_reduce_folds_spark.operators import sampling as SM

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE docs AS
        SELECT i AS doc_id,
               CASE WHEN i % 10 = 0 THEN 'A' ELSE 'b' END AS source
        FROM range(2000) t(i)
    """)
    # expression source_expr: lower(source) folds A into b's source class
    q = SM.temperature_mix_sql("docs", "lower(source)", "doc_id")
    rows = con.execute(q).fetchall()
    assert 0 < len(rows) <= 2000
    assert {len(r) for r in rows} == {2}      # d.* minus the helper col
    # bare column keeps working and stays deterministic
    q2 = SM.temperature_mix_sql("docs", "source", "doc_id")
    assert con.execute(q2).fetchall() == con.execute(q2).fetchall()
    con.close()

    with pytest.raises(ValueError, match="recall_cos"):
        S.auto_srp_params(10**6, recall_cos=0.0)
    with pytest.raises(ValueError, match="recall_cos"):
        S.auto_srp_params(10**6, recall_cos=-0.5)

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="threshold > 0"):
        S.embedding_near_dup_pairs_lsh(
            emb, dim=2, threshold=0.0, n_planes=4, n_tables=2,
            verify="inline_q8")


def test_unimax_mix_waterfall(spark):
    """UniMax epoch-capped mixing (hand waterfall): sources 100/300/600
    rows, cap 2 epochs, budget 0.9 epochs of the 1000-row corpus (B=900).
    The closed form: the smallest source hits its cap (200), the other
    two share the rest equally (350 each) — e = (2.0, 7/6, 7/12).  Exact
    replication counts for the integral part, hash-kept fraction within
    tolerance, epoch numbering 0..k-1, determinism across reruns, and
    the DuckDB mirror agrees row-for-row."""
    import duckdb
    import pandas as pd

    from map_reduce_folds_spark.operators import sampling as SM

    rows = [(i, "a" if i < 100 else ("b" if i < 400 else "c"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string") \
        .repartition(7)
    out = SM.unimax_mix(df, "source", "doc_id",
                        budget_epochs=0.9, max_epochs=2.0)
    got = out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("docs"),
        F.max("epoch").alias("maxe")).collect()
    by = {r.source: r for r in got}
    assert by["a"].n == 200 and by["a"].docs == 100 and by["a"].maxe == 1
    # b: 300 full + ~1/6 fractional; c: ~7/12 fractional only
    assert 300 <= by["b"].n <= 400 and abs(by["b"].n - 350) < 25
    assert by["c"].maxe == 0 and abs(by["c"].n - 350) < 30
    total = sum(r.n for r in got)
    assert abs(total - 900) < 40
    # deterministic rerun
    out2 = SM.unimax_mix(df, "source", "doc_id",
                         budget_epochs=0.9, max_epochs=2.0)
    assert sorted((r.doc_id, r.epoch) for r in out.collect()) == \
        sorted((r.doc_id, r.epoch) for r in out2.collect())
    # DuckDB mirror: identical kept (doc_id, epoch) multiset
    con = duckdb.connect()
    con.register("docs_pd", pd.DataFrame(rows, columns=["doc_id", "source"]))
    q = SM.unimax_mix_sql("docs_pd", "source", "doc_id",
                          budget_epochs=0.9, max_epochs=2.0)
    mirror = sorted(map(tuple, con.execute(
        f"SELECT doc_id, epoch FROM ({q})").fetchall()))
    con.close()
    assert mirror == sorted((r.doc_id, r.epoch) for r in out.collect())
    import pytest as _pt

    with _pt.raises(ValueError, match="budget_epochs"):
        SM.unimax_mix(df, "source", "doc_id", budget_epochs=0.0)


def test_cp_bucket_rows_oracle_parity(spark, emb):
    """Cross-polytope buckets (round 13) are bit-free reproducible in
    SQL: the ±1 projection matrix regenerates from md5 parity, the
    2^20-quantized arithmetic is exact integers in doubles (order-free
    sums), and the argmax tie-break is the same exact-integer key.
    Pinned for a mixed (k=1, r=2) geometry AND a multi-hash pure-CP
    (k=2, r=0) geometry — covering the code-combining positional base
    (2d)^h and both with/without the SRP fine-bit branch."""
    import duckdb

    src = f"read_parquet('{SF_DIR}/embeddings.parquet')"
    con = duckdb.connect()
    for k, r, t in ((1, 2, 4), (2, 0, 3)):
        rows = S.srp_bucket_rows(emb, "vec_id", "embedding", 64, r, t,
                                 cp_hashes=k)
        got = sorted(map(tuple, rows.collect()))
        want = sorted(map(tuple, con.execute(
            S.cp_bucket_rows_sql(src, "vec_id", "embedding",
                                 64, k, r, t)).fetchall()))
        assert got == want, (k, r, t, got[:3], want[:3])
    con.close()


def test_cp_scheme_recall_vs_exact(spark):
    """CP auto geometry must surface true near-dups: planted pairs at
    cosine ~0.95 in a 4000-vector corpus, recall vs the exact quadratic
    baseline >= 0.9 at the default recall target 0.98 (LSH S-curve;
    probabilistic, margin allows it), and every emitted pair is exact
    (re-scored) by construction."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((2000, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # plant a near-dup of every vector at cos ~0.95
    eps = rng.standard_normal((2000, 64)) * 0.04
    near = base + eps
    near /= np.linalg.norm(near, axis=1, keepdims=True)
    vecs = np.vstack([base, near])
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(len(vecs))],
        "vec_id bigint, embedding array<double>").repartition(8).cache()
    exact = {(r.id_a, r.id_b) for r in S.embedding_near_dup_pairs(
        df, dim=64, threshold=0.9).collect()}
    got = {(r.id_a, r.id_b) for r in S.embedding_near_dup_pairs_lsh(
        df, dim=64, threshold=0.9, scheme="cp",
        corpus_count=len(vecs)).collect()}
    assert got <= exact              # precision exact by construction
    assert len(exact) >= 1500        # the planted pairs are really there
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, recall
    df.unpersist()


def test_auto_cp_params():
    """The CP geometry planner: strictly generalizes the SRP planner
    (k = 0 at small n), k grows with corpus size, per-decade uniform-
    model candidate volume stays in a bounded band (the discrete (k, r)
    lattice oscillates around the optimum instead of tracking a smooth
    curve), tables stay far below the SRP planner's at 20M+ rows, and
    degenerate recall_cos fails loudly."""
    k0, r0, t0 = S.auto_cp_params(2_000, 0.95)
    assert k0 <= 1 and t0 >= 1
    ks = []
    for n in (10**4, 10**5, 10**6, 10**7, 10**8):
        k, r, t = S.auto_cp_params(n, 0.95)
        occ = n / (128 ** k * 2 ** r)
        assert 1.0 <= occ <= 256.0, (n, k, r, occ)
        ks.append(k)
    assert ks == sorted(ks) and ks[-1] >= 3   # k monotone, grows
    # candidate band: candidates-per-row n·occ·T/2n stays within 3.5x
    # across THREE decades (10^6..10^9) — between CP-hash steps the
    # r-bit tail grows at the SRP per-bit exponent (~n^0.15) and each
    # k-step resets it; compare SRP's same-span growth of >5x (and its
    # hard floor at ~5M rows)
    def cand_per_row(n):
        k, r, t = S.auto_cp_params(n, 0.95)
        return (n / (128 ** k * 2 ** r)) * t / 2
    band = [cand_per_row(n) for n in (10**6, 10**7, 10**8, 10**9)]
    assert max(band) / min(band) <= 3.5, band
    # CP beats SRP on bucket-relation size where it matters
    _, _, t_cp = S.auto_cp_params(20_000_000, 0.95)
    _, t_srp = S.auto_srp_params(20_000_000, 0.95)
    assert t_cp * 2 < t_srp, (t_cp, t_srp)
    with pytest.raises(ValueError, match="recall_cos"):
        S.auto_cp_params(10**6, recall_cos=0.0)


def test_bpe_encode_arrow_8k_merges_exact(spark):
    """The arrow engine at a REAL vocabulary size (round 13): train ~8k
    merges on a rich synthetic vocabulary (the fixture corpus's word
    pool yields only ~90), encode with the substring-precheck fast
    path, and compare a 300-word sample against a driver-side NAIVE
    replay (no precheck — the semantics definition; the full-vocab naive
    replay is exactly the quadratic cost the precheck removes).  The
    precheck must be invisible: it skips a merge only when its
    concatenated pair cannot occur contiguously in the word.
    (catalyst stays the cross-engine witness at small merge counts in
    test_bpe_encode_engines_agree_and_hand_case; an 8k-deep catalyst
    chain is the documented non-goal.)"""
    import random

    from map_reduce_folds_spark.operators import bpe as BP

    rng = random.Random(13)
    letters = "abcdefghijklmnopqrst"
    vocab = {"".join(rng.choice(letters)
                     for _ in range(rng.randint(6, 12)))
             for _ in range(20_000)}
    words = sorted(vocab)
    # one word per doc: per-doc n_tokens IS encode(word)
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)],
        "doc_id bigint, text string").repartition(16)
    merges = BP.bpe_learn_merges(df, "text", 8000)
    assert len(merges) >= 6000, len(merges)
    got = {r.doc_id: r.n_tokens
           for r in BP.bpe_encode_token_counts(
               df, "doc_id", "text", len(merges), merges=merges,
               engine="arrow").collect()}

    def naive(word):
        syms = list(word)
        for bl, br, _ in merges:
            out, pend = [], None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == bl and s == br:
                    out.append(bl + br)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            syms = out
        return len(syms)

    sample = rng.sample(range(len(words)), 300)
    for i in sample:
        assert got[i] == naive(words[i]), (i, words[i])


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer–Wilkerson–Aiken)
# ---------------------------------------------------------------------------

def _winnow_ref(tokens: list[str], k: int, w: int) -> set[tuple[int, int]]:
    """Brute-force all-minima winnowing over one document (the operator's
    documented selection rule), hash-identical to text.hash60."""
    import hashlib

    grams = [" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    n = len(hs)
    sel: set[tuple[int, int]] = set()
    if n == 0:
        return sel
    for j in range(min(w, n) - 1, n):
        lo = max(0, j - w + 1)
        m = min(hs[lo:j + 1])
        sel.update((p, hs[p]) for p in range(lo, j + 1) if hs[p] == m)
    return sel


def test_winnow_matches_python_reference(spark):
    """Exact selection-set equality vs the brute-force reference on a
    small-vocab corpus (repeats force within-window hash ties, the case
    where all-minima and rightmost-tie winnowing differ)."""
    import random

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for k, w in [(3, 4), (2, 5), (1, 3)]:
        got = {
            (r.doc_id, r.p, r.g)
            for r in T.winnow_fingerprints(df, k=k, w=w).collect()
        }
        want = {
            (i, p, g)
            for i, txt in rows
            for p, g in _winnow_ref(txt.split(" "), k, w)
        }
        assert got == want, f"k={k} w={w}: {len(got)} vs {len(want)}"


def test_winnow_window_coverage_guarantee(docs):
    """The paper's guarantee: every window of w consecutive grams
    contains at least one selected fingerprint (so any shared run of
    w+k-1 tokens is always detected)."""
    k, w = 3, 4
    fps = T.winnow_fingerprints(docs, k=k, w=w).collect()
    sel_by_doc: dict[int, set[int]] = {}
    for r in fps:
        sel_by_doc.setdefault(r.doc_id, set()).add(r.p)
    checked = 0
    for row in docs.select("doc_id", "text").collect():
        n = len(row.text.split(" ")) - k + 1
        if n < w:
            continue
        sel = sel_by_doc[row.doc_id]
        for j in range(w - 1, n):
            assert any(p in sel for p in range(j - w + 1, j + 1)), \
                f"doc {row.doc_id}: window ending at {j} has no fingerprint"
        checked += 1
    assert checked > 0


def test_winnow_short_docs(spark):
    """< k tokens → no grams, no fingerprints; k <= tokens < w+k-1 →
    the document's global minimum gram is selected (windows clip)."""
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d")],
        "doc_id bigint, text string")
    out = T.winnow_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.p, r.g))
    assert 1 not in by_doc            # only 2 tokens: no 3-gram
    assert len(by_doc[2]) == 1        # single gram: it is the minimum
    want3 = _winnow_ref(["a", "b", "c", "d"], 3, 4)
    assert set(by_doc[3]) == want3    # 2 grams < w: global min selected


def test_winnow_density_near_expectation(docs):
    """Selected density ~ 2/(w+1) on the fixture corpus (the paper's
    expectation for random hashes; wide tolerance — small-vocab repeats
    pull it up slightly via ties)."""
    k, w = 3, 4
    grams = docs.select(
        (F.size(T.tokenize("text")) - (k - 1)).alias("n")
    ).where(F.col("n") > 0).agg(F.sum("n")).collect()[0][0]
    n_fp = T.winnow_fingerprints(docs, k=k, w=w).count()
    density = n_fp / grams
    assert 1.2 / (w + 1) < density < 3.5 / (w + 1), density


def test_winnow_overlap_detects_planted_copy(spark):
    """An exact copy (and a block-sharing doc) must surface as overlap
    pairs; an unrelated doc must not pair with them."""
    base = " ".join(f"t{i}" for i in range(30))
    block = " ".join(f"t{i}" for i in range(10, 22))
    rows = [
        (1, base),
        (2, base),                                  # exact copy
        (3, "x0 x1 x2 x3 " + block + " y0 y1 y2"),  # shares a 12-token block
        (4, " ".join(f"z{i}" for i in range(30))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.id_a, r.id_b): r.shared
             for r in T.winnow_overlap_pairs(
                 df, k=3, w=4, min_shared=2, max_df=10).collect()}
    assert (1, 2) in pairs
    n_distinct = (T.winnow_fingerprints(df.where("doc_id = 1"), k=3, w=4)
                  .select("g").distinct().count())
    assert pairs[(1, 2)] == n_distinct  # copies share their whole set
    assert (1, 3) in pairs and (2, 3) in pairs  # the shared block fires
    assert not any(4 in p for p in pairs)


def test_winnow_overlap_max_df_drops_boilerplate(spark):
    """A gram present in MORE than max_df documents contributes nothing:
    docs that share only the boilerplate block produce no pair."""
    boiler = "h0 h1 h2 h3 h4"
    rows = [(i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(20)))
            for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = T.winnow_overlap_pairs(
        df, k=3, w=4, min_shared=1, max_df=3).collect()
    assert pairs == []  # the boilerplate fingerprints exceed max_df=3


# ---------------------------------------------------------------------------
# Naive Bayes classifier
# ---------------------------------------------------------------------------

def _nb_ref(rows, train_ids, B, alpha):
    """Brute-force multinomial NB with the operator's exact formula and
    hash60 bucketing: rows = [(id, cls, text)]; returns {id: (pred, score)}."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    def bkt(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    cc = defaultdict(Counter)
    dc = Counter()
    for i, c, t in rows:
        if i in train_ids:
            dc[c] += 1
            for tok in t.split(" "):
                cc[c][bkt(tok)] += 1
    dt = sum(dc.values())
    tot = {c: sum(v.values()) for c, v in cc.items()}
    ln_a = math.log(alpha) if alpha != 1.0 else 0.0
    out = {}
    for i, _, t in rows:
        db = Counter(bkt(tok) for tok in t.split(" "))
        n = sum(db.values())
        best = None
        for c in sorted(cc):
            present = sorted(b for b in db if b in cc[c])
            s = 0.0
            for b in present:
                s += float(db[b]) * math.log(float(cc[c][b]) + alpha)
            m = sum(db[b] for b in present)
            score = round(s + float(n - m) * ln_a
                          - float(n) * math.log(float(tot[c]) + alpha * B)
                          + math.log(float(dc[c]) / float(dt)), 9)
            # argmax, ties -> min class: strict > keeps the earlier
            # (alphabetically smaller) class on ties
            if best is None or score > best[1]:
                best = (c, score)
        out[i] = best
    return out


def test_nb_classify_matches_python_reference(spark):
    import random

    rng = random.Random(11)
    voc = {"sports": ["goal", "team", "match", "score"],
           "tech": ["code", "chip", "model", "data"]}
    shared = ["the", "a", "of", "and"]
    rows = []
    for i in range(80):
        c = "sports" if i % 2 == 0 else "tech"
        toks = [rng.choice(voc[c] + shared) for _ in range(rng.randint(3, 25))]
        rows.append((i, c, " ".join(toks)))
    train_ids = {i for i, _, _ in rows if i % 3 != 0}
    df = spark.createDataFrame(rows, "doc_id bigint, cls string, text string")
    from map_reduce_folds_spark.operators import quality as Q

    for B, alpha in [(64, 1.0), (256, 0.1)]:
        got = {r.doc_id: (r.pred, r.score)
               for r in Q.nb_classify(df, "cls", F.expr("doc_id % 3 != 0"),
                                      n_buckets=B, alpha=alpha).collect()}
        want = _nb_ref(rows, train_ids, B, alpha)
        assert got == want, f"B={B} alpha={alpha}"


def test_nb_classify_separable_classes_recovered(spark):
    """On clearly separable vocabulary the held-out predictions must be
    (almost all) correct — the operator is a working classifier, not
    just a deterministic formula."""
    import random

    rng = random.Random(5)
    voc = {"a": [f"wa{j}" for j in range(10)],
           "b": [f"wb{j}" for j in range(10)]}
    rows = [(i, c, " ".join(rng.choice(voc[c]) for _ in range(15)))
            for i in range(100) for c in [("a" if i % 2 == 0 else "b")]]
    df = spark.createDataFrame(rows, "doc_id bigint, cls string, text string")
    from map_reduce_folds_spark.operators import quality as Q

    nb = Q.nb_classify(df, "cls", F.expr("doc_id < 60"), n_buckets=128)
    held = {r.doc_id: r.pred for r in nb.collect() if r.doc_id >= 60}
    truth = {i: c for i, c, _ in rows if i >= 60}
    acc = sum(held[i] == truth[i] for i in held) / len(held)
    assert acc == 1.0, acc


def test_nb_classify_rejects_bad_alpha(spark):
    from map_reduce_folds_spark.operators import quality as Q

    df = spark.createDataFrame([(1, "x", "a b")],
                               "doc_id bigint, cls string, text string")
    with pytest.raises(ValueError, match="alpha"):
        Q.nb_classify(df, "cls", F.lit(True), alpha=0.0)


# ---------------------------------------------------------------------------
# Bigram LM perplexity proxy
# ---------------------------------------------------------------------------

def _bigram_ref(rows, alpha=1.0):
    """Brute-force bigram_logprob: rows = [(id, text)]."""
    import math
    from collections import Counter

    c2, c1, vocab = Counter(), Counter(), set()
    for _, t in rows:
        tk = t.split(" ")
        vocab.update(tk)
        for i in range(len(tk) - 1):
            c2[(tk[i], tk[i + 1])] += 1
            c1[tk[i]] += 1
    V = len(vocab)
    out = {}
    for i, t in rows:
        tk = t.split(" ")
        if len(tk) < 2:
            continue
        terms = [math.log((c2[(tk[j], tk[j + 1])] + alpha)
                          / (c1[tk[j]] + V * alpha))
                 for j in range(len(tk) - 1)]
        out[i] = (len(terms), round(math.fsum(terms) / len(terms), 9))
    return out


def test_bigram_logprob_matches_reference(spark):
    import random

    rng = random.Random(3)
    voc = [f"w{j}" for j in range(12)]
    rows = [(i, " ".join(rng.choice(voc)
                         for _ in range(rng.randint(1, 30))))
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from map_reduce_folds_spark.operators import quality as Q

    got = {r.doc_id: (r.n_bigrams, r.mean_logprob)
           for r in Q.bigram_logprob(df).collect()}
    want = _bigram_ref(rows)
    # fsum vs sorted-fold can differ in the last ulp before rounding;
    # compare counts exactly and scores to the rounded precision
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) < 2e-9, (i, got[i], want[i])


def test_bigram_logprob_penalizes_scrambled_order(spark):
    """A unigram filter cannot distinguish these rows; the bigram LM
    must score the order-scrambled document strictly lower."""
    natural = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the over quick lazy fox the brown jumps"
    rows = [(i, natural) for i in range(20)] + [(99, scrambled)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from map_reduce_folds_spark.operators import quality as Q

    out = {r.doc_id: r.mean_logprob for r in Q.bigram_logprob(df).collect()}
    assert out[99] < out[0] - 1.0, out


def test_bigram_logprob_short_docs_drop(spark):
    from map_reduce_folds_spark.operators import quality as Q

    df = spark.createDataFrame([(1, "solo"), (2, "a b")],
                               "doc_id bigint, text string")
    out = {r.doc_id for r in Q.bigram_logprob(df).collect()}
    assert out == {2}
    with pytest.raises(ValueError, match="alpha"):
        Q.bigram_logprob(df, alpha=-1)


def test_winnow_materialize_path_roundtrip(docs, tmp_path_factory):
    """materialize_path= writes the fingerprint index once and the
    re-read scan is row-identical to the derived relation (the
    materialize_stage shared-stage discipline)."""
    path = str(tmp_path_factory.mktemp("winnow_idx") / "fp")
    derived = T.winnow_fingerprints(docs, k=3, w=4)
    stored = T.winnow_fingerprints(docs, k=3, w=4, materialize_path=path)
    a = {(r.doc_id, r.p, r.g) for r in derived.collect()}
    b = {(r.doc_id, r.p, r.g) for r in stored.collect()}
    assert a == b and len(a) > 0
    # consumers can feed the stored index straight into the overlap join
    pairs_stored = T.winnow_overlap_pairs(
        docs, fps=stored, min_shared=2, max_df=10)
    pairs_fresh = T.winnow_overlap_pairs(
        docs, k=3, w=4, min_shared=2, max_df=10)
    assert ({(r.id_a, r.id_b, r.shared) for r in pairs_stored.collect()}
            == {(r.id_a, r.id_b, r.shared) for r in pairs_fresh.collect()})


def test_winnow_contamination_guarantee(spark):
    """A training doc sharing a w+k-1-token run with an eval doc MUST
    register at least one fingerprint hit (the winnowing coverage
    guarantee applied cross-corpus); disjoint-vocab docs score 0."""
    k, w = 3, 4
    run = " ".join(f"e{i}" for i in range(k + w - 1))  # exactly w+k-1 tokens
    ev = spark.createDataFrame(
        [(1000, run + " " + " ".join(f"x{i}" for i in range(10)))],
        "doc_id bigint, text string")
    train = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(8)) + " " + run),
         (2, " ".join(f"u{i}" for i in range(20)))],
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in T.winnow_contamination(
        train, ev, k=k, w=w).collect()}
    assert out[1].n_hit >= 1 and out[1].overlap > 0
    assert out[2].n_hit == 0 and out[2].overlap == 0.0


def test_winnow_ingest_flags_index_copies_only(spark):
    """An arriving copy of an INDEXED doc is flagged; a novel doc is
    not; two copies arriving together (within-batch dup) are NOT
    flagged — ingest judges against the index only, by contract."""
    base = " ".join(f"d{i}" for i in range(25))
    existing = spark.createDataFrame(
        [(1, base), (2, " ".join(f"o{i}" for i in range(25)))],
        "doc_id bigint, text string")
    twin = " ".join(f"n{i}" for i in range(25))
    batch = spark.createDataFrame(
        [(10, base),         # copy of indexed doc 1 -> dup
         (11, " ".join(f"z{i}" for i in range(25))),  # novel -> clean
         (12, twin), (13, twin)],  # within-batch copies -> both clean
        "doc_id bigint, text string")
    idx = T.winnow_fingerprints(existing, k=3, w=4)
    out = {r.doc_id: r for r in T.winnow_ingest(
        batch, idx, k=3, w=4, min_shared=2, max_df=10).collect()}
    assert out[10].is_dup and out[10].best_shared >= 2
    assert not out[11].is_dup and out[11].best_shared == 0
    assert not out[12].is_dup and not out[13].is_dup


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's)
# ---------------------------------------------------------------------------

def _kmeans_ref(rows, k, iters, dim, salt="km"):
    """Brute-force reference with the operator's exact arithmetic:
    2^20 quantization, hash60 seed init, left-assoc fold distances,
    (d, cid) argmin, exact integer sums."""
    import hashlib

    S = 1048576.0

    def h60(i):
        s = salt + str(i)
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    import math
    q = {i: [math.floor(v * S + 0.5) for v in vec] for i, vec in rows}
    xd = {i: [qq / S for qq in qv] for i, qv in q.items()}
    seeds = sorted(xd, key=lambda i: (h60(i), i))[:k]
    cents = [list(xd[i]) for i in seeds]
    counts = [0] * len(cents)

    def assign():
        out = {}
        for i, x in xd.items():
            best = None
            for cid, c in enumerate(cents):
                d = 0.0
                for j in range(dim):
                    t = (x[j] - c[j]) * (x[j] - c[j])
                    d = d + t
                if best is None or (d, cid) < best:
                    best = (d, cid)
            out[i] = best[1]
        return out

    for _ in range(iters):
        a = assign()
        sums = {}
        for i, cid in a.items():
            svec, n = sums.setdefault(cid, ([0] * dim, [0]))
            for j in range(dim):
                svec[j] += q[i][j]
            n[0] += 1
        for cid in range(len(cents)):
            if cid in sums:
                svec, n = sums[cid]
                cents[cid] = [float(s) / (S * float(n[0])) for s in svec]
                counts[cid] = n[0]
            else:
                counts[cid] = 0
    return cents, counts


def test_kmeans_distributed_matches_reference(spark):
    import random

    rng = random.Random(9)
    dim, k, iters = 6, 4, 3
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {(r.cid, r.j): (r.c, r.n)
           for r in S.kmeans_fit_distributed(
               df, dim=dim, k=k, iters=iters).collect()}
    cents, counts = _kmeans_ref(rows, k, iters, dim)
    for cid in range(k):
        for j in range(dim):
            c, n = got[(cid, j)]
            assert c == cents[cid][j], (cid, j, c, cents[cid][j])
            assert n == counts[cid]


def test_kmeans_distributed_recovers_planted_clusters(spark):
    """Three well-separated planted clusters must come out as three
    internally-consistent assignments with correct member counts."""
    import random

    rng = random.Random(4)
    dim = 8
    centers = [[5.0 * (c == j) for j in range(dim)] for c in range(3)]
    rows = []
    for i in range(90):
        c = i % 3
        rows.append((i, [centers[c][j] + rng.uniform(-0.2, 0.2)
                         for j in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = S.kmeans_fit_distributed(df, dim=dim, k=3, iters=4).collect()
    counts = sorted({r.cid: r.n for r in out}.values())
    assert counts == [30, 30, 30], counts
    # each centroid sits on one planted center (max coord ~5, rest ~0)
    cents = {}
    for r in out:
        cents.setdefault(r.cid, [0.0] * dim)[r.j] = r.c
    hot = sorted(max(range(dim), key=lambda j: c[j])
                 for c in cents.values())
    assert hot == [0, 1, 2], (hot, cents)


def test_ivf_trained_centroids_recall(emb):
    """ivf_topk under the DISTRIBUTED kmeans fit (centroids=): exact
    cosine on whatever it returns, recall floor as for the sample fit."""
    km = S.kmeans_fit_distributed(emb, dim=64, k=8, iters=3)
    cents: dict[int, list[float]] = {}
    for r in km.collect():
        cents.setdefault(r.cid, [0.0] * 64)[r.j] = r.c
    centroids = [cents[c] for c in sorted(cents)]
    q = emb.filter("vec_id < 5")
    truth = S.brute_force_topk(q, emb, k=10).collect()
    approx = S.ivf_topk(q, emb, k=10, n_probe=4,
                        centroids=centroids).collect()
    truth_cos = {(r.query_id, r.neighbor_id): r.cos_sim for r in truth}
    for r in approx:
        if (r.query_id, r.neighbor_id) in truth_cos:
            assert abs(r.cos_sim
                       - truth_cos[(r.query_id, r.neighbor_id)]) < 1e-12
    truth_set = {(r.query_id, r.neighbor_id) for r in truth}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth_set & approx_set) / len(truth_set)
    assert recall >= 0.3, f"trained-ivf recall {recall:.2f}"


def test_kmeans_inertia_matches_reference(spark):
    """Exact equality with a Python reference computing the same
    quantized integer identity (n·Σq² − (Σq)²)/n² per dimension, and
    sanity: tight planted clusters give near-zero inertia."""
    import math
    import random

    rng = random.Random(13)
    dim = 5
    centers = [[3.0 * (c == j) for j in range(dim)] for c in range(2)]
    rows = [(i, [centers[i % 2][j] + rng.uniform(-0.05, 0.05)
                 for j in range(dim)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    km = S.kmeans_fit_distributed(df, dim=dim, k=2, iters=3)
    cents: dict[int, list[float]] = {}
    for r in km.collect():
        cents.setdefault(r.cid, [0.0] * dim)[r.j] = r.c
    centroids = [cents[c] for c in sorted(cents)]
    got = {r.cid: (r.n, r.inertia)
           for r in S.kmeans_inertia(df, centroids, dim=dim).collect()}

    SC = 1048576.0
    q = {i: [math.floor(v * SC + 0.5) for v in vec] for i, vec in rows}
    xdv = {i: [qq / SC for qq in qv] for i, qv in q.items()}
    assign = {}
    for i, x in xdv.items():
        best = None
        for cid, c in enumerate(centroids):
            d = 0.0
            for j in range(dim):
                d = d + (x[j] - c[j]) * (x[j] - c[j])
            if best is None or (d, cid) < best:
                best = (d, cid)
        assign[i] = best[1]
    for cid in sorted(set(assign.values())):
        members = [i for i, c in assign.items() if c == cid]
        n = len(members)
        num = 0
        for j in range(dim):
            A = sum(q[i][j] * q[i][j] for i in members)
            B = sum(q[i][j] for i in members)
            num += A * n - B * B
        want = float(num) / (float(n) * float(n) * (SC * SC))
        gn, gi = got[cid]
        assert gn == n
        assert gi == want, (cid, gi, want)
        assert gi < 0.05  # tight clusters -> tiny within-cluster SSE


def test_kmeans_elbow_threaded_equals_sequential(spark, emb):
    """kmeans_elbow runs its three independent k-branches from a thread
    pool (round-14, guide §2.6 job overlap); the result must equal the
    sequential composition of the same fit → inertia → mse chain, with
    the (2, 4, 8) row order preserved."""
    from map_reduce_folds_spark.queries import QUERIES

    rows = QUERIES["kmeans_elbow"](spark, SF_DIR).collect()
    assert [r.k for r in rows] == [2, 4, 8]
    got = {r.k: r for r in rows}
    for kk in (2, 4, 8):
        km = S.kmeans_fit_distributed(emb, dim=64, k=kk, iters=3)
        cents: dict[int, list[float]] = {}
        for r in km.collect():
            cents.setdefault(r.cid, [0.0] * 64)[r.j] = r.c
        centroids = [cents[c] for c in sorted(cents)]
        inert = S.kmeans_inertia(emb, centroids, dim=64).collect()
        acc = 0.0  # the query's fold: cid-sorted, left-associated
        for r in sorted(inert, key=lambda r: r.cid):
            acc = acc + float(r.n) * r.inertia
        n_vec = sum(r.n for r in inert)
        assert got[kk].n_clusters == len(inert)
        assert got[kk].n_vectors == n_vec
        # round(x, 9) moves the value by at most half a quantum
        assert abs(got[kk].mse - acc / float(n_vec)) <= 5e-10, kk


def test_kmeans_seed_vectors_prefix_and_fit_equivalence(spark, emb):
    """The shared-seed elbow optimization's two load-bearing facts
    (round 15): the init ordering is total and k-independent (smaller-k
    seed sets are PREFIXES of larger-k ones), and a fit fed
    ``seed_vectors`` is bit-identical to one computing its own seeds."""
    seeds8 = S.kmeans_seed_vectors(emb, k=8)
    assert len(seeds8) == 8
    assert S.kmeans_seed_vectors(emb, k=2) == seeds8[:2]
    assert S.kmeans_seed_vectors(emb, k=4) == seeds8[:4]
    own = sorted(map(tuple, S.kmeans_fit_distributed(
        emb, dim=64, k=4, iters=2).collect()))
    fed = sorted(map(tuple, S.kmeans_fit_distributed(
        emb, dim=64, k=4, iters=2, seed_vectors=seeds8).collect()))
    assert own == fed


# ---------------------------------------------------------------------------
# distributed PCA (round 13 session 3)
# ---------------------------------------------------------------------------

def _vec_df(spark, X):
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_pca_moments_exact_vs_numpy(spark):
    """The distributed moment pass (Arrow partial Grams summed as
    DECIMAL) equals the exact integer scatter sums computed directly —
    including with large-magnitude vectors that force the int64 chunk
    guard to sub-chunk."""
    import numpy as np

    rng = np.random.RandomState(3)
    X = rng.randn(97, 8) * 7.5  # |q| up to ~2^23: products ~2^46
    df = _vec_df(spark, X)
    n, S1, G = S._pca_moments(df, dim=8)
    q = np.floor(X * 1048576.0 + 0.5).astype(object)  # exact python ints
    assert n == len(X)
    for i in range(8):
        assert S1[i] == int(sum(q[:, i]))
        for j in range(8):
            assert G[i][j] == int(sum(q[:, i] * q[:, j]))


def test_pca_recovers_planted_directions(spark):
    """Power iteration recovers a planted dominant direction (and the
    planted second direction after deflation) when a real spectral gap
    exists; eigenvalues are ordered and positive, components near-
    orthogonal, variance shares in (0, 1]."""
    import numpy as np

    rng = np.random.RandomState(7)
    d1 = rng.randn(64); d1 /= np.linalg.norm(d1)
    d2 = rng.randn(64); d2 -= (d2 @ d1) * d1; d2 /= np.linalg.norm(d2)
    X = ((rng.randn(400, 1) * 5.0) @ d1[None, :]
         + (rng.randn(400, 1) * 2.0) @ d2[None, :]
         + rng.randn(400, 64) * 0.1)
    comps, lams, tr, n = S.pca_power_fit(_vec_df(spark, X),
                                         n_components=2, iters=8)
    v1, v2 = np.array(comps[0]), np.array(comps[1])
    assert abs(v1 @ d1) > 0.99
    assert abs(v2 @ d2) > 0.99
    assert lams[0] > lams[1] > 0
    assert abs(v1 @ v2) < 1e-4
    assert 0 < lams[1] / tr < lams[0] / tr <= 1
    assert n == 400


def test_pca_projection_matches_loadings(spark):
    """pca_power_project's per-row fold equals the explicit left-associated
    dot product of the quantized-descaled vector with the component —
    bitwise."""
    import numpy as np

    rng = np.random.RandomState(11)
    X = rng.randn(50, 16)
    df = _vec_df(spark, X)
    comps, lams, tr, _ = S.pca_power_fit(df, dim=16, n_components=1,
                                         iters=6)
    got = {r["vec_id"]: r["pc1"]
           for r in S.pca_power_project(df, comps, "vec_id", "embedding").collect()}
    Sc = 1048576.0
    for i in range(len(X)):
        xd = np.floor(X[i] * Sc + 0.5) / Sc
        acc = 0.0
        for j in range(16):
            acc = acc + xd[j] * comps[0][j]
        assert got[i] == acc


def test_pca_sql_mirror_bitwise(spark):
    """Fit + variance + projection mirrors agree BITWISE with the Spark
    implementations on the fixture corpus at sf0.001 (the oracle-gate
    property, pinned as a unit test at non-default geometry: 3
    components, 5 iterations)."""
    import duckdb

    from map_reduce_folds_spark.sources import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    comps, lams, tr, n = S.pca_power_fit(emb, n_components=3, iters=5)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/embeddings.parquet')")
    duck = (con.sql(S.pca_sql(64, 3, 5)).fetchdf()
            .sort_values(["component", "j"]).reset_index(drop=True))
    flat = [x for c in comps for x in c]
    assert all(a == b for a, b in zip(flat, duck["loading"]))
    dv = con.sql(S.pca_variance_sql(64, 3, 5)).fetchdf() \
        .sort_values("component").reset_index(drop=True)
    assert all(lams[c] == dv["eigenvalue"][c] for c in range(3))
    assert all(lams[c] / tr == dv["var_share"][c] for c in range(3))


def test_pca_residual_matches_reference(spark):
    """pca_residual_scores equals the explicit left-associated reference
    arithmetic (quantize/descale, subtract exact mean, folded norm and
    dots, chained subtraction) — bitwise, including the moments= reuse
    path that skips the second corpus scan."""
    import numpy as np

    rng = np.random.RandomState(19)
    X = rng.randn(60, 16)
    df = _vec_df(spark, X)
    moments = S._pca_moments(df, dim=16)
    comps, lams, tr, n = S.pca_power_fit(df, dim=16, n_components=2,
                                         iters=6, moments=moments)
    means = S.pca_means(moments)
    got = {r["vec_id"]: r["resid"]
           for r in S.pca_residual_scores(df, comps, means).collect()}
    Sc = 1048576.0
    assert n == 60
    for i in range(60):
        xd = np.floor(X[i] * Sc + 0.5) / Sc
        cd = [xd[j] - means[j] for j in range(16)]
        n2 = 0.0
        for j in range(16):
            n2 = n2 + cd[j] * cd[j]
        resid = n2
        for c in range(2):
            p = 0.0
            for j in range(16):
                p = p + cd[j] * comps[c][j]
            resid = resid - p * p
        assert got[i] == resid


def test_pca_residual_flags_planted_outlier(spark):
    """A vector pushed far along a direction orthogonal to the two
    planted dominant directions gets the LARGEST residual; in-subspace
    rows (mean + span of planted directions + tiny noise) score near
    zero relative to the outlier."""
    import numpy as np

    rng = np.random.RandomState(23)
    d1 = rng.randn(32); d1 /= np.linalg.norm(d1)
    d2 = rng.randn(32); d2 -= (d2 @ d1) * d1; d2 /= np.linalg.norm(d2)
    d3 = rng.randn(32)
    d3 -= (d3 @ d1) * d1 + (d3 @ d2) * d2
    d3 /= np.linalg.norm(d3)
    X = ((rng.randn(200, 1) * 5.0) @ d1[None, :]
         + (rng.randn(200, 1) * 2.0) @ d2[None, :]
         + rng.randn(200, 32) * 0.01)
    X[137] = 8.0 * d3  # the off-subspace plant
    df = _vec_df(spark, X)
    moments = S._pca_moments(df, dim=32)
    comps, _, _, _ = S.pca_power_fit(df, dim=32, n_components=2,
                                     iters=8, moments=moments)
    rows = S.pca_residual_scores(df, comps, S.pca_means(moments)).collect()
    scores = {r["vec_id"]: r["resid"] for r in rows}
    assert max(scores, key=scores.get) == 137
    assert scores[137] > 50.0  # ~64 = 8² of unexplained energy
    others = sorted(v for k, v in scores.items() if k != 137)
    assert others[-1] < scores[137] / 10


def test_pca_residual_dim_guard(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="means dim"):
        S.pca_residual_scores(None, [[0.0] * 8], [0.0] * 4)


def test_benford_audit_hand_counts_and_chi2(spark):
    """Observed digit counts, expected = n·log10(1+1/d) with literal
    shares, chi2 = (obs−exp)²/exp — checked against an exact hand
    computation; nulls, zeros, and negatives are excluded; an absent
    digit emits obs=0 with chi2_term == expected."""
    from map_reduce_folds_spark.operators.quality import (
        _BENFORD_SHARES, benford_audit)

    vals = ([1.23] * 5 + [12.0] * 3 + [2.5] * 4 + [0.0] * 2
            + [-7.0] + [None])  # digit1: 8, digit2: 4; 0/neg/null out
    df = spark.createDataFrame([(v,) for v in vals], "amount double")
    rows = {r["digit"]: r for r in benford_audit(df, "amount").collect()}
    assert len(rows) == 9
    assert rows[1]["obs"] == 8 and rows[2]["obs"] == 4
    assert all(rows[d]["obs"] == 0 for d in range(3, 10))
    n = 12.0
    for d in range(1, 10):
        exp = n * _BENFORD_SHARES[d - 1]
        assert rows[d]["expected"] == exp
        dev = float(rows[d]["obs"]) - exp
        assert rows[d]["chi2_term"] == dev * dev / exp
        if rows[d]["obs"] == 0:
            assert rows[d]["chi2_term"] == exp


def test_benford_geometric_beats_uniform(spark):
    """A geometric (multiplicative) series is near-Benford while a
    uniform column is far from it — total chi2 separates them by an
    order of magnitude (the screen the audit exists for)."""
    from map_reduce_folds_spark.operators.quality import benford_audit

    geo = [(1.05 ** k,) for k in range(1, 401)]  # stays in DECIMAL(12,2)
    uni = [(100.0 + k * 2.25,) for k in range(400)]  # uniform 100-1000
    chi = {}
    for name, data in (("geo", geo), ("uni", uni)):
        df = spark.createDataFrame(data, "amount double")
        chi[name] = sum(r["chi2_term"]
                        for r in benford_audit(df, "amount").collect())
    assert chi["geo"] * 10 < chi["uni"]


def test_readability_hand_case(spark):
    """ARI over pooled counts matches the exact hand computation on a
    text with known chars/words/sentences; punctuation-free docs floor
    sentences at 1; grouping pools counts, not per-doc scores."""
    from map_reduce_folds_spark.operators.text import readability_by_group

    rows = [("en", "The cat sat. The dog ran! Did it?"),   # 3 sentences
            ("en", "word word word"),                      # 0 -> floor 1
            ("xx", "abc de")]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {r["lang"]: r for r in
           readability_by_group(df, "text", ("lang",)).collect()}
    # doc1 alnum chars: The cat sat The dog ran Did it = 3*7 + 2 = 23
    d1_c, d1_w, d1_s = 23, 8, 3
    d2_c, d2_w, d2_s = 12, 3, 1
    en = got["en"]
    assert (en["n_docs"], en["n_chars"], en["n_words"], en["n_sentences"]) \
        == (2, d1_c + d2_c, d1_w + d2_w, d1_s + d2_s)
    ari = (4.71 * ((d1_c + d2_c) / (d1_w + d2_w))
           + 0.58 * ((d1_w + d2_w) / (d1_s + d2_s)) - 21.43)
    assert en["ari"] == ari
    assert (got["xx"]["n_chars"], got["xx"]["n_words"],
            got["xx"]["n_sentences"]) == (5, 2, 1)


def test_kmeans_assign_nearest_and_tiebreak(spark):
    """kmeans_assign labels each vector with the argmin-distance
    centroid; exact distance ties break to the LOWER cid (struct-min),
    matching kmeans_sql's assignment stages."""
    from map_reduce_folds_spark.operators.similarity import kmeans_assign

    df = _vec_df(spark, [[0.0, 0.0], [1.0, 1.0], [0.5, 0.5]])
    cents = [[0.0, 0.0], [1.0, 1.0]]
    got = {r["vec_id"]: r["cid"]
           for r in kmeans_assign(df, cents, vec_col="embedding").collect()}
    assert got[0] == 0 and got[1] == 1
    assert got[2] == 0  # equidistant -> lower cid


def test_cluster_topics_surface_planted_vocab(spark, tmp_path):
    """Two well-separated embedding clusters whose documents use
    disjoint marker vocabularies: each cluster's top c-TF-IDF terms are
    exactly its own markers (shared filler words score 0 idf)."""
    import numpy as np

    import __spark_entry__ as e

    rng = np.random.RandomState(5)
    dim = 64
    n = 40
    vecs, docs = [], []
    for i in range(n):
        side = i % 2
        base = np.full(dim, 3.0 if side else -3.0)
        vecs.append((i, [float(x) for x in base + rng.randn(dim) * 0.05],
                     "l"))
        marker = ("alpha beta gamma" if side == 0 else "delta eps zeta")
        docs.append((i, f"the and of {marker} {marker}", "en", "s", 10))
    sf = str(tmp_path)
    spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<double>, label string"
    ).write.parquet(f"{sf}/embeddings.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
              " n_chars bigint").write.parquet(f"{sf}/documents.parquet")
    out = e.queries()["kmeans_cluster_topics"](spark, sf).collect()
    by_cid: dict[int, list[str]] = {}
    for r in out:
        by_cid.setdefault(r["cid"], []).append(r["term"])
    # non-empty clusters partition the two vocabularies: every cluster's
    # positive-score terms come from exactly one marker set
    m0, m1 = {"alpha", "beta", "gamma"}, {"delta", "eps", "zeta"}
    seen0 = seen1 = False
    for cid, terms in by_cid.items():
        pos = {r["term"] for r in out if r["cid"] == cid and r["score"] > 0}
        if not pos:
            continue
        assert pos <= m0 or pos <= m1, (cid, pos)
        seen0 |= pos <= m0
        seen1 |= pos <= m1
    assert seen0 and seen1


def test_novelty_scores_semantics(spark):
    """First doc scores novelty 1.0; an exact copy later scores 0.0; a
    half-overlapping doc scores the exact fraction of its distinct
    shingles first seen in it; a too-short doc emits 0 shingles with
    NULL novelty."""
    from map_reduce_folds_spark.operators.text import novelty_scores

    rows = [
        (0, "a b c d e"),            # 3 shingles: abc bcd cde -> all novel
        (1, "a b c d e"),            # exact copy -> 0 novel
        (2, "c d e f g"),            # cde (seen), def, efg -> 2/3
        (3, "x y"),                  # < n tokens -> no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in
           novelty_scores(df, "doc_id", "text", n=3).collect()}
    assert (got[0]["n_shingles"], got[0]["n_novel"],
            got[0]["novelty"]) == (3, 3, 1.0)
    assert (got[1]["n_shingles"], got[1]["n_novel"],
            got[1]["novelty"]) == (3, 0, 0.0)
    assert (got[2]["n_shingles"], got[2]["n_novel"]) == (3, 2)
    assert got[2]["novelty"] == 2.0 / 3.0
    assert (got[3]["n_shingles"], got[3]["novelty"]) == (0, None)


def test_retrieval_eval_hand_case(spark):
    """Known ranks: truth {a,b,c}; got ranks 1..3 = (a, x, c) ->
    recall 2/3 of k=3, MRR 1 (first hit at rank 1), nDCG = the exact
    rounded-term fold; a query with zero hits scores recall 0, MRR 0,
    nDCG 0."""
    import math

    got = spark.createDataFrame(
        [(1, "a", 0.9), (1, "x", 0.8), (1, "c", 0.7),
         (2, "p", 0.9), (2, "q", 0.8), (2, "r", 0.7)],
        "query_id bigint, neighbor_id string, cos_sim double")
    truth = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 0.95), (1, "c", 0.85),
         (2, "z", 1.0), (2, "y", 0.9), (2, "w", 0.8)],
        "query_id bigint, neighbor_id string, cos_sim double")
    rows = {r["query_id"]: r
            for r in S.retrieval_eval(got, truth, 3).collect()}
    t = lambda r: round(1.0 / math.log2(r + 1.0), 9)  # noqa: E731
    idcg = (t(1) + t(2)) + t(3)
    q1 = rows[1]
    assert (q1["n_truth"], q1["n_hits"]) == (3, 2)
    assert q1["recall_at_k"] == round(2 / 3.0, 9)
    assert q1["mrr"] == 1.0
    assert q1["ndcg"] == round((t(1) + t(3)) / idcg, 9)
    q2 = rows[2]
    assert (q2["n_hits"], q2["recall_at_k"], q2["mrr"], q2["ndcg"]) \
        == (0, 0.0, 0.0, 0.0)


def test_retrieval_eval_perfect_retrieval(spark):
    """got == truth -> recall 1, MRR 1, nDCG 1 for every query."""
    rows = [(q, f"n{j}", 1.0 - j * 0.01)
            for q in (1, 2) for j in range(5)]
    df = spark.createDataFrame(
        rows, "query_id bigint, neighbor_id string, cos_sim double")
    out = S.retrieval_eval(df, df, 5).collect()
    assert len(out) == 2
    for r in out:
        assert (r["recall_at_k"], r["mrr"], r["ndcg"]) == (1.0, 1.0, 1.0)


def test_pca_moment_merge_is_exact_monoid(spark):
    """Per-batch moment relations merged by additive union equal the
    whole-corpus moments EXACTLY (integer sums are associative and
    commutative) — for any split, here three uneven batches."""
    import numpy as np

    rng = np.random.RandomState(41)
    X = rng.randn(90, 8) * 2.0
    df = _vec_df(spark, X)
    whole = S._pca_moments(df, dim=8)
    parts = [df.where(f"vec_id % 3 = {m}") for m in range(3)]
    merged_rel = S.pca_moment_merge(
        *[S.pca_moment_relation(p, dim=8) for p in parts])
    merged = S.pca_moments_from_relation(merged_rel, dim=8)
    assert merged == whole


def test_retrieval_eval_contract_edges(spark):
    """(a) got deeper than k is truncated to rank <= k (no beyond-k
    hits, recall <= 1); (b) duplicate truth rows count once; (c) a
    query with zero retrieved rows emits a (0, 0, 0) row."""
    import math

    got = spark.createDataFrame(
        # q1: 4 rows but k=2 -> only ranks 1-2 count; the rank-3 hit 'c'
        # must NOT count
        [(1, "x", 0.9), (1, "a", 0.8), (1, "c", 0.7), (1, "b", 0.6)],
        "query_id bigint, neighbor_id string, cos_sim double")
    truth = spark.createDataFrame(
        # duplicate (1, a); q2 has truth but NO got rows
        [(1, "a", 1.0), (1, "a", 1.0), (1, "b", 0.9),
         (2, "z", 1.0), (2, "y", 0.9)],
        "query_id bigint, neighbor_id string, cos_sim double")
    rows = {r["query_id"]: r for r in S.retrieval_eval(got, truth, 2).collect()}
    q1 = rows[1]
    assert q1["n_truth"] == 2          # duplicate deduped
    assert q1["n_hits"] == 1           # only rank-2 'a'; rank-3 'c' cut
    assert q1["recall_at_k"] == 0.5
    assert q1["mrr"] == 0.5
    t = lambda r: round(1.0 / math.log2(r + 1.0), 9)  # noqa: E731
    assert q1["ndcg"] == round(t(2) / (t(1) + t(2)), 9)
    q2 = rows[2]
    assert (q2["n_hits"], q2["recall_at_k"], q2["mrr"], q2["ndcg"]) \
        == (0, 0.0, 0.0, 0.0)


def test_rrf_fuse_hand_case(spark):
    """Two rankings over one query: scores rank (a,b,c) lexically and
    (c,b,d) densely; rrf = exact 1/(60+r) chains, items missing from a
    side keep NULL rank and contribute 0."""
    lex = spark.createDataFrame(
        [(0, "a", 0.9), (0, "b", 0.8), (0, "c", 0.7)],
        "query_id bigint, doc_id string, score double")
    den = spark.createDataFrame(
        [(0, "c", 0.95), (0, "b", 0.85), (0, "d", 0.75)],
        "query_id bigint, doc_id string, score double")
    rows = {r["doc_id"]: r for r in S.rrf_fuse([lex, den]).collect()}
    assert rows["b"]["rrf"] == (1.0 / 62.0) + (1.0 / 62.0)
    assert rows["a"]["rrf"] == 1.0 / 61.0
    assert rows["a"]["rank_1"] is None
    assert rows["d"]["rrf"] == 1.0 / 63.0
    assert rows["d"]["rank_0"] is None
    assert rows["c"]["rrf"] == (1.0 / 63.0) + (1.0 / 61.0)
    # the two-hit midranker beats every single-list item
    assert rows["b"]["rrf"] > max(rows["a"]["rrf"], rows["c"]["rrf"] - 0) \
        or rows["b"]["rrf"] > rows["a"]["rrf"]


def test_rrf_fuse_tiebreak_and_order(spark):
    """Equal scores rank by id ascending (the family tie-break), and
    contributions add in caller list order (fixed parenthesization)."""
    r1 = spark.createDataFrame(
        [(0, "x", 0.5), (0, "y", 0.5)],
        "query_id bigint, doc_id string, score double")
    rows = {r["doc_id"]: r for r in S.rrf_fuse([r1, r1]).collect()}
    assert rows["x"]["rank_0"] == 1 and rows["x"]["rank_1"] == 1
    assert rows["y"]["rank_0"] == 2
    assert rows["x"]["rrf"] == (1.0 / 61.0) + (1.0 / 61.0)


def test_poisson_bootstrap_weights_distribution(spark):
    """Hash-derived Poisson(1) weights: mean ~= 1, all in 0..7, and the
    zero-weight share ~= e^-1 (inverse-CDF on integer thresholds)."""
    import math

    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.range(2000).select(F.col("id"))
    from map_reduce_folds_spark.operators.text import hash60
    h = hash60(F.concat_ws(":", F.lit("t"), F.lit("0"),
                           F.col("id").cast("string")))
    w = df.select(SM._pois1_weight(h).alias("w"))
    stats = w.agg(F.avg("w").alias("m"), F.min("w").alias("lo"),
                  F.max("w").alias("hi"),
                  F.avg((F.col("w") == 0).cast("double")).alias("p0")
                  ).collect()[0]
    assert 0.9 < stats["m"] < 1.1
    assert stats["lo"] >= 0 and stats["hi"] <= 7
    assert abs(stats["p0"] - math.exp(-1)) < 0.04


def test_poisson_bootstrap_ci_brackets_mean(spark):
    """The percentile CI (tail_permille=50 → 90%) brackets the point
    mean on a well-behaved sample, is ordered, uses the documented
    order-statistic indices, and is a pure function of the salt."""
    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 37 + 5).alias("x"))
    out = SM.poisson_bootstrap_mean_ci(
        df, "x", "id", n_boot=100, tail_permille=50).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 500 and r["n_boot_valid"] == 100
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]
    again = SM.poisson_bootstrap_mean_ci(
        df, "x", "id", n_boot=100, tail_permille=50).collect()[0]
    assert (again["ci_lo"], again["ci_hi"]) == (r["ci_lo"], r["ci_hi"])
    other = SM.poisson_bootstrap_mean_ci(
        df, "x", "id", n_boot=100, tail_permille=50,
        salt="other").collect()[0]
    assert (other["ci_lo"], other["ci_hi"]) != (r["ci_lo"], r["ci_hi"])


def test_stratified_bootstrap_properties(spark):
    """Stratified Poisson bootstrap: the point estimate IS the exact
    global mean, the CI brackets it, replicates are salt-deterministic,
    and a 1-row stratum excludes the replicates where it draws zero
    weight (the estimator is undefined there) instead of skewing them."""
    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.range(600).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("s"),
        (F.col("id") % 41 + 7).alias("x"))
    r = SM.poisson_bootstrap_stratified_mean_ci(
        df, "x", "id", "s", n_boot=100).collect()[0]
    exact = df.agg(F.sum("x") / F.count(F.lit(1))).first()[0]
    assert r["n"] == 600 and r["mean"] == exact
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]
    again = SM.poisson_bootstrap_stratified_mean_ci(
        df, "x", "id", "s", n_boot=100).collect()[0]
    assert (again["ci_lo"], again["ci_hi"]) == (r["ci_lo"], r["ci_hi"])
    other = SM.poisson_bootstrap_stratified_mean_ci(
        df, "x", "id", "s", n_boot=100, salt="other").collect()[0]
    assert (other["ci_lo"], other["ci_hi"]) != (r["ci_lo"], r["ci_hi"])
    # a singleton stratum draws w=0 with prob 1/e per replicate -> some
    # replicates must be excluded (P[all 100 valid] ~ 1e-16)
    tiny = df.unionByName(spark.createDataFrame(
        [(10_000, "c", 1000)], "id bigint, s string, x bigint"))
    rt = SM.poisson_bootstrap_stratified_mean_ci(
        tiny, "x", "id", "s", n_boot=100).collect()[0]
    assert rt["n_boot_valid"] < 100
    assert rt["ci_lo"] <= rt["mean"] <= rt["ci_hi"]


def test_poisson_bootstrap_merge_is_exact_monoid(spark):
    """Moment relations from any batch split merge to the whole-corpus
    relation exactly, so the finished CI is bitwise the batch CI —
    three uneven batches."""
    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 23 + 1).alias("x"),
        (F.col("id") % 3).alias("g"))
    whole = SM.poisson_bootstrap_mean_ci(
        df, "x", "id", keys=["g"], n_boot=50).collect()
    parts = [df.where(F.col("id") % 7 == i) for i in range(7)]
    merged = SM.poisson_bootstrap_merge(*[
        SM.poisson_bootstrap_moments(p, "x", "id", keys=["g"], n_boot=50)
        for p in parts])
    inc = SM.poisson_bootstrap_ci_from_moments(
        merged, keys=["g"]).collect()
    key = lambda r: r["g"]  # noqa: E731
    for w, m in zip(sorted(whole, key=key), sorted(inc, key=key)):
        assert w.asDict() == m.asDict()


def test_leakage_safe_split_invariant(spark, tables):
    """No near-dup cluster spans two splits, the split is exhaustive
    over documents, and singleton docs are their own cluster."""
    from map_reduce_folds_spark.operators import dedup as D2
    from map_reduce_folds_spark.operators import sampling as SM

    d = tables["documents"]
    comp = D2.simhash_components(d, "doc_id", "text", bits=60,
                                 max_hamming=3, blocks="auto")
    lab = (d.join(comp.select(F.col("node").alias("doc_id"), "component"),
                  "doc_id", "left")
           .select("doc_id",
                   F.coalesce(F.col("component"), F.col("doc_id"))
                   .alias("cluster")))
    s = SM.hash_split(lab, "cluster",
                      weights={"train": 0.8, "val": 0.1, "test": 0.1})
    spans = (s.groupBy("cluster")
             .agg(F.countDistinct("split").alias("k"))
             .where(F.col("k") > 1).count())
    assert spans == 0
    assert s.count() == d.count()
    assert s.where(F.col("split").isNull()).count() == 0


def test_matryoshka_truncation_eval_bounds(spark, tables):
    """Truncated-prefix retrieval is a real retrieval run: one metrics
    row per query, all metrics in [0, 1], and truncating random 64-dim
    vectors to 16 dims loses SOME ground truth (strictly below perfect
    on the deterministic fixture)."""
    e = tables["embeddings"]
    e16 = e.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    got = S.brute_force_topk(e16.filter("vec_id < 5"), e16,
                             "vec_id", "embedding", 16, 10)
    truth = S.brute_force_topk(e.filter("vec_id < 5"), e,
                               "vec_id", "embedding", 64, 10)
    rows = S.retrieval_eval(got, truth, 10).collect()
    assert len(rows) == 5
    for r in rows:
        for m in ("recall_at_k", "mrr", "ndcg"):
            assert 0.0 <= r[m] <= 1.0
    assert sum(r["recall_at_k"] for r in rows) < 5.0


def test_conformal_gate_coverage_and_convention(spark):
    """On a synthetic score table: the threshold is the
    ceil((m+1)(1-alpha))-th smallest calibration score, realized
    coverage is >= 1 - alpha up to the one-rank discretization, and a
    too-small calibration set flags nothing (tau = infinity)."""
    from map_reduce_folds_spark.operators import evalstats as _ES
    from map_reduce_folds_spark.operators import sampling as SM

    # deterministic scores: qr = (id * 37) % 1009
    df = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        ((F.col("id") * 37) % 1009).cast("bigint").alias("qr"))
    q = SM.hash_split(df, "vec_id",
                      weights={"cal": 0.5, "test": 0.5}, salt="conformal")
    cal = q.where("split = 'cal'")
    m = cal.count()
    k = ((m + 1) * 950 + 999) // 1000
    tau = sorted(r["qr"] for r in cal.collect())[k - 1]
    test = q.where("split = 'test'")
    flagged = test.where(F.col("qr") > tau).count()
    n_test = test.count()
    assert 1.0 - flagged / n_test >= 0.95 - 2.0 / n_test
    # conservative convention: k > m -> no threshold, nothing flagged
    tiny_k = ((3 + 1) * 950 + 999) // 1000   # m=3 -> k=4 > m
    assert tiny_k > 3


def test_poisson_bootstrap_ratio_ci(spark):
    """Ratio CI brackets the point ratio; a constant ratio y = 3x gives
    a degenerate CI exactly at 1/3... (num=x, den=3x -> every replicate
    ratio is exactly 1/3)."""
    from map_reduce_folds_spark.operators import sampling as SM

    df = spark.range(400).select(
        F.col("id"), (F.col("id") % 17 + 1).alias("x"),
        ((F.col("id") % 17 + 1) * 3).alias("y"))
    r = SM.poisson_bootstrap_ratio_ci(
        df, "x", "y", "id", n_boot=100).collect()[0]
    assert r["ratio"] == 1.0 / 3.0
    assert r["ci_lo"] == r["ci_hi"] == 1.0 / 3.0
    noisy = spark.range(400).select(
        F.col("id"), (F.col("id") % 17 + 1).alias("x"),
        (F.col("id") % 23 + 1).alias("y"))
    rn = SM.poisson_bootstrap_ratio_ci(
        noisy, "x", "y", "id", n_boot=100).collect()[0]
    assert rn["ci_lo"] <= rn["ratio"] <= rn["ci_hi"]
    assert rn["ci_lo"] < rn["ci_hi"]


def test_simhash_auto_bits_rule():
    """bits grows ~2*log2(n)+8, clamped to [32, 60]: small corpora keep
    32, the measured 1M-doc saturation point lands at 48+, and the
    token-hash width bounds it at 60."""
    from map_reduce_folds_spark.operators.dedup import simhash_auto_bits

    assert simhash_auto_bits(1_000) == 32
    assert simhash_auto_bits(60_000) == 40
    assert simhash_auto_bits(1_000_000) == 48
    assert simhash_auto_bits(10_000_000) > 48
    assert simhash_auto_bits(10**12) == 60
    assert simhash_auto_bits(0) == 32


def test_effective_sample_size_properties(spark):
    """Uniform weights give ESS = n (ratio 1); one dominant weight
    collapses ESS toward 1; zero/negative weights carry no mass but
    count toward n."""
    from map_reduce_folds_spark.operators import sampling as SM

    uni = spark.createDataFrame([(1.0,)] * 50, "w double")
    r = SM.effective_sample_size(uni, "w").collect()[0]
    assert r["n"] == 50 and r["ess"] == 50.0 and r["ess_ratio"] == 1.0
    dom = spark.createDataFrame([(1000.0,)] + [(0.001,)] * 99, "w double")
    rd = SM.effective_sample_size(dom, "w").collect()[0]
    assert rd["ess"] < 1.1
    mixed = spark.createDataFrame(
        [(2.0,), (2.0,), (0.0,), (-1.0,)], "w double")
    rm = SM.effective_sample_size(mixed, "w").collect()[0]
    assert rm["n"] == 4
    assert rm["ess"] == 2.0  # (4e6)^2 / (2*(2e6)^2)
    assert rm["ess_ratio"] == 0.5


def test_jackknife_ratio_ci_hand_case(spark):
    """Three groups with exact integer mass: leave-one-out ratios, the
    (G-1)/G variance, and the z-interval all match longhand."""
    import math
    rows = [("a", 10, 2), ("a", 20, 3),   # group a: num 30, den 5
            ("b", 40, 10),                # group b: num 40, den 10
            ("c", 30, 5)]                 # group c: num 30, den 5
    from map_reduce_folds_spark.operators import sampling as SM
    df = spark.createDataFrame(rows, "g string, num bigint, den bigint")
    r = SM.jackknife_ratio_ci(df, "num", "den", "g").collect()[0]
    S, N = 100, 20
    th = [(S - 30) / (N - 5), (S - 40) / (N - 10), (S - 30) / (N - 5)]
    thbar = sum(th) / 3.0
    ss = sum((t - thbar) ** 2 for t in th)
    se = math.sqrt((2.0 / 3.0) * ss)
    assert (r["n"], r["g_groups"]) == (4, 3)
    assert r["theta"] == 5.0
    assert abs(r["theta_jack"] - thbar) < 1e-12
    assert abs(r["se_jack"] - se) < 1e-12
    assert abs(r["ci_lo"] - (5.0 - 1.959963984540054 * se)) < 1e-12
    assert abs(r["ci_hi"] - (5.0 + 1.959963984540054 * se)) < 1e-12


def test_jackknife_ratio_ci_degenerate(spark):
    """G = 1 -> NULL jackknife columns but theta still emits; a group
    holding ALL denominator mass -> NULL (leave-one-out div by zero)."""
    from map_reduce_folds_spark.operators import sampling as SM
    df1 = spark.createDataFrame([("a", 6, 3), ("a", 4, 1)],
                                "g string, num bigint, den bigint")
    r1 = SM.jackknife_ratio_ci(df1, "num", "den", "g").collect()[0]
    assert r1["theta"] == 2.5
    assert r1["se_jack"] is None and r1["ci_lo"] is None
    df2 = spark.createDataFrame([("a", 6, 4), ("b", 4, 0)],
                                "g string, num bigint, den bigint")
    r2 = SM.jackknife_ratio_ci(df2, "num", "den", "g").collect()[0]
    assert r2["se_jack"] is None and r2["theta_jack"] is None


def test_capture_recapture_chapman_arithmetic(spark):
    """The registered row's Chapman estimate and Seber variance equal
    the longhand formulas on its own catch counts at sf0.001."""
    from map_reduce_folds_spark.queries.llm import dedup_capture_recapture
    r = dedup_capture_recapture(spark, "/root/testdata/sf0.001").collect()[0]
    n1, n2, m = r["n1"], r["n2"], r["m"]
    assert r["caught_union"] == n1 + n2 - m
    assert r["n_hat"] == (n1 + 1) * (n2 + 1) / (m + 1) - 1.0
    want_var = ((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                / ((m + 1) ** 2 * (m + 2)))
    assert abs(r["var_hat"] - want_var) < 1e-9 * max(1.0, want_var)
    # both methods caught something and overlapped, else the row is vacuous
    assert m > 0 and n1 > m and n2 > m


def test_heaps_law_fit_saturated_fixture_and_formula(spark):
    """The synthetic corpus has a FIXED generator vocabulary, so the
    honest Heaps fit is saturation: beta = 0 and k = the constant
    distinct-token count; the OLS fold must reproduce exactly that
    (a flat curve in log space has slope 0 and intercept ln V)."""
    from map_reduce_folds_spark.queries.llm import (
        heaps_law_fit, vocab_growth_curve)
    sf = "/root/testdata/sf0.001"
    r = heaps_law_fit(spark, sf).collect()[0]
    curve = {c["decile"]: c for c in vocab_growth_curve(spark, sf).collect()}
    vocab = {c["n_distinct"] for c in curve.values()}
    assert len(vocab) == 1          # generator vocab saturates immediately
    assert r["n_points"] == 10
    assert r["heaps_beta"] == 0.0
    assert r["heaps_k"] == float(next(iter(vocab)))


def test_ipf_rake_marginals_converge_and_preserve_mass(spark):
    """After 5 sweeps the weighted mass is uniform across rows and
    columns to a tight tolerance (IPF converges geometrically on a
    connected positive table), and total mass is preserved exactly by
    the construction of each row step."""
    from collections import defaultdict
    from map_reduce_folds_spark.operators import sampling as SM
    rows = [("s1", "en")] * 8 + [("s1", "de")] * 2 + \
           [("s2", "en")] * 3 + [("s2", "de")] * 7 + \
           [("s3", "en")] * 5 + [("s3", "de")] * 5
    df = spark.createDataFrame(rows, "src string, lg string")
    out = SM.ipf_rake_uniform(df, "src", "lg", rounds=5).collect()
    tot = sum(r["n"] for r in out)
    rm, cm = defaultdict(float), defaultdict(float)
    wtot = 0.0
    for r in out:
        m = r["n"] * r["weight"]
        rm[r["src"]] += m
        cm[r["lg"]] += m
        wtot += m
    assert tot == 30
    # the final sweep ends with the COL step: column marginals are
    # float-exact, row marginals carry the remaining geometric residual
    for v in rm.values():
        assert abs(v - tot / 3) < 1e-3
    for v in cm.values():
        assert abs(v - tot / 2) < 1e-9
    # the final sweep ends with a col step, so column marginals are
    # EXACT and total mass equals tot up to that same float chain
    assert abs(wtot - tot) < 1e-9


def test_ipf_rake_invariants_2x2(spark):
    """The two defining IPF properties: a table whose marginals already
    match the targets is a FIXPOINT (all weights exactly 1.0 — raking
    matches margins, it does NOT flatten cells), and raking an
    unbalanced table preserves the odds ratio (the interaction
    structure) while converging the margins."""
    from map_reduce_folds_spark.operators import sampling as SM
    bal = [("r1", "c1")] * 6 + [("r1", "c2")] * 2 + \
          [("r2", "c1")] * 2 + [("r2", "c2")] * 6
    df = spark.createDataFrame(bal, "rr string, cc string")
    out = {(r["rr"], r["cc"]): r for r in
           SM.ipf_rake_uniform(df, "rr", "cc", rounds=8).collect()}
    assert all(r["weight"] == 1.0 for r in out.values())

    unbal = [("r1", "c1")] * 9 + [("r1", "c2")] * 3 + \
            [("r2", "c1")] * 2 + [("r2", "c2")] * 6
    df2 = spark.createDataFrame(unbal, "rr string, cc string")
    o2 = {(r["rr"], r["cc"]): r for r in
          SM.ipf_rake_uniform(df2, "rr", "cc", rounds=10).collect()}
    m = lambda rr, cc: o2[(rr, cc)]["n"] * o2[(rr, cc)]["weight"]  # noqa: E731
    # margins -> 10 each (20 total over 2 rows / 2 cols)
    assert abs(m("r1", "c1") + m("r1", "c2") - 10.0) < 1e-6
    assert abs(m("r1", "c1") + m("r2", "c1") - 10.0) < 1e-9
    # odds ratio preserved: (9*6)/(3*2) = 9
    got_or = (m("r1", "c1") * m("r2", "c2")) / (m("r1", "c2") * m("r2", "c1"))
    assert abs(got_or - 9.0) < 1e-6


def test_branch_pool_created_once_under_concurrent_first_calls(monkeypatch):
    """Concurrent first callers of ``_branch_pool`` share one pool."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from map_reduce_folds_spark.queries import llm

    made = []

    class SlowPool(llm._BranchPool):
        def __init__(self, max_workers):
            time.sleep(0.05)  # widen the window between check and set
            super().__init__(max_workers)
            made.append(self)

    monkeypatch.setattr(llm, "_BRANCH_POOL", None)
    monkeypatch.setattr(llm, "_BranchPool", SlowPool)
    go = threading.Barrier(8)

    def first_call(_):
        go.wait(timeout=30)
        return llm._branch_pool()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            pools = set(map(id, ex.map(first_call, range(8), timeout=60)))
        assert len(made) == 1 and len(pools) == 1
    finally:
        sys.setswitchinterval(interval)
        for p in made:
            p.shutdown()


def test_branch_pool_task_cannot_submit_into_the_pool():
    from map_reduce_folds_spark.queries import llm

    pool = llm._branch_pool()
    nested = pool.submit(lambda: pool.submit(lambda: 1).result())
    with pytest.raises(RuntimeError, match="submitted into _branch_pool"):
        nested.result(timeout=30)
    assert pool.submit(lambda: 2).result(timeout=30) == 2


def test_settle_cancels_queued_and_waits_for_running_futures():
    import threading

    from map_reduce_folds_spark.queries import llm

    pool = llm._branch_pool()
    release = threading.Event()
    started = threading.Semaphore(0)

    def block():
        started.release()
        return release.wait(30)

    busy = [pool.submit(block) for _ in range(3)]
    try:
        # barrier: all three workers hold a blocking task before `queued`
        # is submitted, so it stays queued and busy[0] is running
        for _ in busy:
            assert started.acquire(timeout=30)
        queued = pool.submit(lambda: 1)
        llm._settle(queued)
        assert queued.cancelled()
        threading.Timer(0.2, release.set).start()
        llm._settle(busy[0])
        assert busy[0].done() and not busy[0].cancelled()
    finally:
        release.set()


def test_curation_v3_leaves_no_job_behind_on_error(docs, monkeypatch):
    """An error while v3's perplexity gate materializes on the branch pool
    must not leave that gate's future, and its Spark job, running
    unobserved: by the time the error propagates, the future is done."""
    from map_reduce_folds_spark.queries import llm

    pool = llm._branch_pool()
    submitted = []

    class Recording:
        def submit(self, fn, *args):
            fut = pool.submit(fn, *args)
            submitted.append(fut)
            return fut

    def boom(d):
        raise RuntimeError("boom")

    monkeypatch.setattr(llm, "_branch_pool", Recording)
    monkeypatch.setattr(llm, "_nb_marked_df", boom)
    with pytest.raises(RuntimeError, match="boom"):
        llm._curation_v3_from(docs)
    assert len(submitted) == 1 and submitted[0].done()
