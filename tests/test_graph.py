"""Connected components: property-tested against a pure-Python union-find,
plus the cluster-dedup semantics that pairwise rules get wrong."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, functions as F

from map_reduce_folds_spark.operators import graph as G


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min id per component
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: root for root, ns in comp.items() for n in ns}


def _cc_spark(spark, edges: list[tuple[int, int]], **kw) -> dict[int, int]:
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges], "src long, dst long"
    )
    out = G.connected_components(df, "src", "dst", **kw).collect()
    return {r["node"]: r["component"] for r in out}


def test_cc_two_chains_and_triangle(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    edges = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    got = _cc_spark(spark, edges)
    assert got == _union_find_components(edges)
    assert got[4] == 1 and got[12] == 10 and got[21] == 20


def test_cc_transitive_not_pairwise(spark):
    # A~B, B~C but never A~C: one cluster, canonical = A
    got = _cc_spark(spark, [(1, 2), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_self_loops_and_duplicates(spark):
    got = _cc_spark(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    # 5 only appears as a self-loop: dropped entirely (no edge information)
    assert got == {1: 1, 2: 1}


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(10, 60)
        m = rng.randint(5, 80)
        edges = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        edges = [e for e in edges if e[0] != e[1]]
        got = _cc_spark(spark, edges)
        assert got == _union_find_components(edges), f"trial {trial}"


def test_cc_long_chain_converges_with_checkpointing(spark):
    # diameter 12 chain exercises >1 checkpoint interval
    edges = [(i, i + 1) for i in range(12)]
    got = _cc_spark(spark, edges)
    assert set(got.values()) == {0} and len(got) == 13


def test_cc_non_convergence_raises(spark):
    # contract=False pins the pure propagation loop's guard; with the
    # default contraction the same chain converges within the 2 rounds
    chain = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_spark(spark, chain, max_iter=2, contract=False)
    assert set(_cc_spark(spark, chain, max_iter=2).values()) == {0}


def test_dedup_by_components_keeps_canonical_and_singletons(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(8)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6)],
        "id_a long, id_b long",
    )
    kept = sorted(
        r["doc_id"]
        for r in G.dedup_by_components(df, pairs, "doc_id").collect()
    )
    # cluster {1,2,3} → keep 1; cluster {5,6} → keep 5; 0,4,7 untouched
    assert kept == [0, 1, 4, 5, 7]


# ---------------------------------------------------------------------------
# rank_vocab / quantize_int8 (co-located here to avoid re-running the large
# relational/llm suites for two small operators)
# ---------------------------------------------------------------------------

def test_rank_vocab_single_window_pass(spark):
    from map_reduce_folds_spark.operators import windows as W
    from map_reduce_folds_spark.plans import executed_plan

    df = spark.createDataFrame(
        [Row(k=i % 3, v=i % 5, tb=i) for i in range(30)],
        "k int, v int, tb int",
    )
    out = W.rank_vocab(df, ["k"], [F.col("v"), F.col("tb")])
    plan = executed_plan(out)
    assert plan.count("Window") == 1, plan  # all six functions, one sort
    rows = [r.asDict() for r in out.where("k = 0").orderBy("rn").collect()]
    n = len(rows)
    # unique tiebreaker: row_number == rank, ntile buckets balanced
    assert [r["rn"] for r in rows] == [r["rnk"] for r in rows]
    assert rows[-1]["cume"] == 1.0 and rows[0]["pct_rank"] == 0.0
    sizes = [sum(1 for r in rows if r["ntile4"] == b) for b in (1, 2, 3, 4)]
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == n


def test_quantize_int8_round_trip_and_zero_vector(spark):
    from map_reduce_folds_spark.operators import similarity as S

    vecs = [
        Row(vec_id=0, embedding=[0.5, -1.0, 0.25, 127.0]),
        Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0]),   # zero vector
        Row(vec_id=2, embedding=[-0.003, 0.001, 0.002, -0.001]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = S.quantize_int8(df, "vec_id", "embedding")
    got = {r["vec_id"]: r for r in q.collect()}
    assert got[1]["scale"] == 0.0 and list(got[1]["qvec"]) == [0, 0, 0, 0]
    assert got[0]["scale"] == 1.0 and list(got[0]["qvec"]) == [1, -1, 0, 127]
    # round trip error bounded by scale/2 per element
    back = {r["vec_id"]: r["vec"]
            for r in S.dequantize_int8(q).collect()}
    for v in vecs:
        if v.vec_id == 1:
            continue
        s = got[v.vec_id]["scale"]
        for orig, rec in zip(v.embedding, back[v.vec_id]):
            assert abs(orig - rec) <= s / 2 + 1e-12


def test_stratified_sample_exact_counts_determinism_presplit(spark):
    from map_reduce_folds_spark.operators import sampling as SM

    # skewed strata: group 0 holds ~70% of rows
    rows = [Row(id=i, g=0 if i % 10 < 7 else i % 10) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, g int")
    out = SM.stratified_sample_exact(df, ["g"], 5, "id")
    counts = {r["g"]: r["n"] for r in
              out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["g"]: r["n"] for r in
             df.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {g: min(5, n) for g, n in sizes.items()}
    # deterministic across runs; different salt draws a different sample
    a = {(r["g"], r["id"]) for r in out.collect()}
    b = {(r["g"], r["id"]) for r in
         SM.stratified_sample_exact(df, ["g"], 5, "id").collect()}
    c = {(r["g"], r["id"]) for r in
         SM.stratified_sample_exact(df, ["g"], 5, "id", salt="other").collect()}
    assert a == b and a != c
    # hot-group pre-split tournament returns the identical sample
    d = {(r["g"], r["id"]) for r in
         SM.stratified_sample_exact(df, ["g"], 5, "id", pre_split=8).collect()}
    assert a == d


def test_cc_long_path_log_rounds(spark):
    from map_reduce_folds_spark.operators import graph as G

    # 512-node path: plain hash-to-min would need ~511 rounds; pointer
    # doubling must close it within ~log2(512)+slack
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(511)], "src long, dst long"
    )
    out = G.connected_components(edges, "src", "dst", max_iter=13)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert len(got) == 512 and set(got.values()) == {0}


def test_int8_topk_recall_vs_float(spark):
    from map_reduce_folds_spark.operators import similarity as S

    rng = random.Random(3)
    dim = 16
    rows = [Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 4")
    flo = S.brute_force_topk(q, df, "vec_id", "embedding", dim, 10)
    i8 = S.int8_topk(q, df, "vec_id", "embedding", dim, 10)
    f_sets = {}
    for r in flo.collect():
        f_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for r in i8.collect():
        total += 1
        hits += r["neighbor_id"] in f_sets[r["query_id"]]
    # ~1/127 per-element quantization noise: top-10 overlap stays high
    assert total == 40 and hits / total >= 0.8, (hits, total)


def test_cc_table_backed_checkpoint_matches(spark, tmp_path_factory):
    from map_reduce_folds_spark.operators import graph as G

    ckpt = str(tmp_path_factory.mktemp("cc_ckpt"))
    edges = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges], "src long, dst long")
    mem = {(r["node"], r["component"])
           for r in G.connected_components(df, "src", "dst").collect()}
    tbl = {(r["node"], r["component"])
           for r in G.connected_components(df, "src", "dst",
                                           checkpoint_dir=ckpt).collect()}
    assert mem == tbl


def test_cc_checkpoint_dir_reuse_keeps_lazy_result(spark, tmp_path_factory):
    """Slots are namespaced per invocation: a second run reusing the same
    checkpoint_dir must NOT overwrite the table backing an earlier, not
    yet consumed lazy result (round-5 advisor finding)."""
    from map_reduce_folds_spark.operators import graph as G

    ckpt = str(tmp_path_factory.mktemp("cc_ckpt_reuse"))
    g1 = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3)], "src long, dst long")
    g2 = spark.createDataFrame(
        [Row(src=100, dst=200)], "src long, dst long")
    first = G.connected_components(g1, "src", "dst", checkpoint_dir=ckpt)
    # second invocation on DIFFERENT data, same dir, before consuming first
    second = G.connected_components(g2, "src", "dst", checkpoint_dir=ckpt)
    assert {(r["node"], r["component"]) for r in first.collect()} == {
        (1, 1), (2, 1), (3, 1)}
    assert {(r["node"], r["component"]) for r in second.collect()} == {
        (100, 100), (200, 100)}


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def _pagerank_py(edges, n_iter=10, num=85, den=100, scale=10 ** 12):
    """Pure-Python mirror of graph.pagerank's EXACT integer arithmetic —
    the hand oracle for the differential test."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    r0 = scale // n
    base = ((den - num) * r0) // den
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {u: r0 for u in nodes}
    for _ in range(n_iter):
        csum = {u: 0 for u in nodes}
        for s, t in edges:
            csum[t] += r[s] // deg[s]
        r = {u: base + (num * csum[u]) // den for u in nodes}
    return r


def test_pagerank_matches_python_integer_oracle_exactly(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(4, 12)
        edges = [(rng.randint(0, n - 1), rng.randint(0, n - 1))
                 for _ in range(rng.randint(n, 4 * n))]
        df = spark.createDataFrame(
            [Row(src=s, dst=t) for s, t in edges], "src long, dst long")
        got = {r["node"]: r["rank_scaled"]
               for r in G.pagerank(df, n_iter=6).collect()}
        assert got == _pagerank_py(edges, n_iter=6), f"trial {trial}"


def test_pagerank_approximates_float_power_iteration(spark):
    """The fixed-point truncation must stay far below ranking relevance:
    compare against the float power iteration (same no-redistribution
    dangling variant)."""
    import numpy as np

    rng = random.Random(11)
    n = 20
    edges = list({(rng.randint(0, n - 1), rng.randint(0, n - 1))
                  for _ in range(80)})
    df = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in edges], "src long, dst long")
    nodes = sorted({u for e in edges for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    deg = np.zeros(len(nodes))
    for s, _ in edges:
        deg[idx[s]] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(10):
        c = np.zeros(len(nodes))
        for s, t in edges:
            c[idx[t]] += r[idx[s]] / deg[idx[s]]
        r = 0.15 / len(nodes) + 0.85 * c
    got = {row["node"]: row["rank"] for row in G.pagerank(df).collect()}
    for u in nodes:
        assert abs(got[u] - r[idx[u]]) < 1e-6, u


def test_pagerank_sink_gains_mass(spark):
    """A node every walk flows into must outrank its feeders; total mass
    stays ≤ 1 (truncation/dangling only leak, never create)."""
    df = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in [(1, 4), (2, 4), (3, 4), (4, 4)]],
        "src long, dst long")
    got = {r["node"]: r["rank"] for r in G.pagerank(df).collect()}
    assert got[4] > 3 * got[1]
    assert sum(got.values()) <= 1.0 + 1e-12


def _pagerank_py_seeded(edges, seeds, n_iter=10, num=85, den=100,
                        scale=10 ** 12):
    nodes = sorted({u for e in edges for u in e})
    sd = sorted(set(seeds))
    r0_amt = scale // len(sd)
    base_amt = ((den - num) * r0_amt) // den
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {u: (r0_amt if u in sd else 0) for u in nodes}
    for _ in range(n_iter):
        csum = {u: 0 for u in nodes}
        for s, t in edges:
            csum[t] += r[s] // deg[s]
        r = {u: (base_amt if u in sd else 0) + (num * csum[u]) // den
             for u in nodes}
    return r


def test_personalized_pagerank_matches_python_oracle(spark):
    rng = random.Random(23)
    n = 10
    edges = [(rng.randint(0, n - 1), rng.randint(0, n - 1))
             for _ in range(30)]
    seeds = [0, 3]
    df = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in edges], "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in G.pagerank(df, n_iter=6, seeds=seeds).collect()}
    assert got == _pagerank_py_seeded(edges, seeds, n_iter=6)


def test_personalized_pagerank_unreachable_scores_zero(spark):
    """Mass teleports only to seeds: a component the seed cannot reach
    scores exactly 0 (integer arithmetic — no epsilon residue)."""
    df = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in [(1, 2), (2, 1), (8, 9)]],
        "src long, dst long")
    got = {r["node"]: r["rank_scaled"]
           for r in G.pagerank(df, seeds=[1]).collect()}
    assert got[8] == 0 and got[9] == 0
    assert got[1] > 0 and got[2] > 0


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; adding a pendant edge or duplicate/reverse/self
    edges changes nothing."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(2, 1), (3, 3), (0, 9), (1, 0)]  # reverse, self, pendant, dup
    df = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in noisy], "src long, dst long")
    assert G.triangle_count(df).collect()[0]["n_triangles"] == 4


def test_triangle_count_matches_bruteforce_random(spark):
    from itertools import combinations

    rng = random.Random(31)
    edges = list({(min(a, b), max(a, b))
                  for a, b in ((rng.randint(0, 14), rng.randint(0, 14))
                               for _ in range(60)) if a != b})
    adj = set(edges)
    expected = sum(1 for x, y, z in combinations(range(15), 3)
                   if (x, y) in adj and (y, z) in adj and (x, z) in adj)
    df = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in edges], "src long, dst long")
    assert G.triangle_count(df).collect()[0]["n_triangles"] == expected


def _pagerank_py_weighted(edges_w, n_iter=10, num=85, den=100,
                          scale=10 ** 12):
    """Weighted mirror: contribution = (r·w) // W(u)."""
    nodes = sorted({u for s, t, _ in edges_w for u in (s, t)})
    n = len(nodes)
    r0 = scale // n
    base = ((den - num) * r0) // den
    W = {}
    for s, _, w in edges_w:
        W[s] = W.get(s, 0) + w
    r = {u: r0 for u in nodes}
    for _ in range(n_iter):
        csum = {u: 0 for u in nodes}
        for s, t, w in edges_w:
            csum[t] += (r[s] * w) // W[s]
        r = {u: base + (num * csum[u]) // den for u in nodes}
    return r


def test_weighted_pagerank_matches_python_oracle(spark):
    rng = random.Random(41)
    n = 9
    edges_w = [(rng.randint(0, n - 1), rng.randint(0, n - 1),
                rng.randint(1, 20)) for _ in range(25)]
    # collapse duplicate (s,t) like a pre-aggregation would
    agg = {}
    for s, t, w in edges_w:
        agg[(s, t)] = agg.get((s, t), 0) + w
    edges_w = [(s, t, w) for (s, t), w in agg.items()]
    df = spark.createDataFrame(
        [Row(src=s, dst=t, w=w) for s, t, w in edges_w],
        "src long, dst long, w long")
    got = {r["node"]: r["rank_scaled"]
           for r in G.pagerank(df, n_iter=6, weight_col="w").collect()}
    assert got == _pagerank_py_weighted(edges_w, n_iter=6)


def test_weighted_pagerank_close_to_multigraph(spark):
    """The collapsed weighted run equals the parallel-edge multigraph run
    up to per-round truncation (< w ulp of 1e-12 each) — ranking-identical
    in practice."""
    rng = random.Random(43)
    multi = [(rng.randint(0, 5), rng.randint(0, 5)) for _ in range(60)]
    agg = {}
    for s, t in multi:
        agg[(s, t)] = agg.get((s, t), 0) + 1
    mdf = spark.createDataFrame(
        [Row(src=s, dst=t) for s, t in multi], "src long, dst long")
    wdf = spark.createDataFrame(
        [Row(src=s, dst=t, w=w) for (s, t), w in agg.items()],
        "src long, dst long, w long")
    m = {r["node"]: r["rank"] for r in G.pagerank(mdf).collect()}
    w = {r["node"]: r["rank"] for r in G.pagerank(wdf, weight_col="w").collect()}
    assert m.keys() == w.keys()
    for u in m:
        assert abs(m[u] - w[u]) < 1e-8, u


def test_bfs_hops_distances(spark):
    """Hand graph: path 1-2-3-4-5 plus branch 2-6; seed at 1."""
    from map_reduce_folds_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (8, 9)], ["src", "dst"])
    got = {r["node"]: r["hops"]
           for r in G.bfs_hops(edges, [1], max_hops=6).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 2}  # 8,9 unreachable

    # max_hops truncates the frontier, not the closer nodes
    got3 = {r["node"]: r["hops"]
            for r in G.bfs_hops(edges, [1], max_hops=3).collect()}
    assert got3 == {1: 0, 2: 1, 3: 2, 4: 3, 6: 2}


def test_bfs_hops_string_keyed(spark):
    """Seeds adopt the edge column's type: a string-keyed graph must work
    (the old hard bigint cast NULLed string ids and silently returned an
    empty neighborhood)."""
    from map_reduce_folds_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"])
    got = {r["node"]: r["hops"]
           for r in G.bfs_hops(edges, ["a"], max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_hops_unrepresentable_seed_raises(spark):
    """A seed the edge node type cannot represent raises instead of
    silently searching from nothing."""
    from map_reduce_folds_spark.operators import graph as G

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    with pytest.raises(ValueError, match="not representable"):
        G.bfs_hops(edges, ["not-a-number"], max_hops=3)


def test_bfs_hops_factored_hand_graph(spark):
    """Clique-blowup BFS on a hand case exercising every rule: seed's
    co-members at 1, neighbor groups at their group distance, singleton
    intermediate groups, unreachable groups excluded, max_hops cap."""
    from map_reduce_folds_spark.operators import graph as G

    # groups: 10 = {1, 2, 3}; 20 = {4}; 30 = {5, 6}; 99 = {9} (isolated)
    membership = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 30), (6, 30), (9, 99)],
        ["node", "grp"])
    grp_edges = spark.createDataFrame([(10, 20), (20, 30)], ["ga", "gb"])
    got = {r["node"]: r["hops"]
           for r in G.bfs_hops_factored(
               membership, grp_edges, 1, max_hops=4).collect()}
    # doc graph: clique {1,2,3}; biclique {1,2,3}×{4}; biclique {4}×{5,6};
    # clique {5,6}; 9 isolated
    assert got == {1: 0, 2: 1, 3: 1, 4: 1, 5: 2, 6: 2}

    capped = {r["node"]: r["hops"]
              for r in G.bfs_hops_factored(
                  membership, grp_edges, 1, max_hops=1).collect()}
    assert capped == {1: 0, 2: 1, 3: 1, 4: 1}

    alone = {r["node"]: r["hops"]
             for r in G.bfs_hops_factored(
                 membership, grp_edges, 1, max_hops=0).collect()}
    assert alone == {1: 0}


def test_bfs_hops_multi_seed(spark):
    """Multiple seeds: distance is min over seeds; undirected edges."""
    from map_reduce_folds_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])
    got = {r["node"]: r["hops"]
           for r in G.bfs_hops(edges, [1, 5], max_hops=6).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_adamic_adar_hand_graph(spark):
    """Path graph 1-2-3 plus hub 4 connected to 1,2,3: hand-checked AA
    for each distance-2 non-edge; existing edges and distance-1 pairs
    never appear."""
    import math

    from map_reduce_folds_spark.operators.graph import adamic_adar

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 1), (4, 2), (4, 3)],
        "id_a bigint, id_b bigint")
    got = {(r.id_a, r.id_b): (r.n_common, r.aa)
           for r in adamic_adar(pairs).collect()}
    # degrees: 1→{2,4}=2, 2→{1,3,4}=3, 3→{2,4}=2, 4→{1,2,3}=3
    # only non-edge at distance 2: (1,3) via z ∈ {2, 4} (both deg 3)
    want = round(1 / math.log(3) + 1 / math.log(3), 9)
    assert got == {(1, 3): (2, want)}


def test_cc_contracted_equals_uncontracted(spark):
    """The per-partition union-find contraction (contract=True, the
    default) must be label-for-label identical to the pure propagation
    loop on random graphs AND on shapes that stress the contraction:
    a partition-spanning chain and a clique (quadratic edges -> linear
    forest)."""
    rng = random.Random(23)
    cases = []
    for _ in range(3):
        n = rng.randint(10, 50)
        cases.append([(rng.randint(0, n), rng.randint(0, n))
                      for _ in range(rng.randint(5, 70))])
    cases.append([(i, i + 1) for i in range(40)])               # chain
    cases.append([(i, j) for i in range(12) for j in range(i)])  # clique
    for edges in cases:
        edges = [e for e in edges if e[0] != e[1]]
        got_c = _cc_spark(spark, edges, contract=True)
        got_p = _cc_spark(spark, edges, contract=False)
        assert got_c == got_p == _union_find_components(edges)


def test_contract_pairs_local_preserves_components_and_shrinks(spark):
    """Forest output: u > v on every edge, same components as the input,
    and a clique's quadratic edge list contracts toward linear."""
    edges = [(i, j) for j in range(14) for i in range(j)]  # K14: 91 edges
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in edges], "src long, dst long")
    forest = G.contract_pairs_local(df, "src", "dst").collect()
    assert all(r["u"] > r["v"] for r in forest)
    assert len(forest) <= 13 * spark.sparkContext.defaultParallelism
    got = {r["node"]: r["component"]
           for r in G.connected_components(
               spark.createDataFrame(forest), "u", "v").collect()}
    assert got == _union_find_components(edges)


# ---------------------------------------------------------------------------
# semi-supervised label propagation (round 13 session 3)
# ---------------------------------------------------------------------------

def _lp(spark, edges, seeds, n_iter=3):
    from map_reduce_folds_spark.operators import graph as G

    e = spark.createDataFrame(edges, "id_a int, id_b int")
    s = spark.createDataFrame(seeds, "node int, label string")
    out = G.label_propagation(e, s, n_iter=n_iter)
    return {r["node"]: r["label"] for r in out.collect()}


def test_label_prop_hand_case(spark):
    """Chain 1-2-3-4 seeded at node 1: the label walks one hop per
    round; node 5-6 disconnected from any seed stays NULL; a seeded
    node with a disagreeing neighborhood keeps its clamp."""
    edges = [(1, 2), (2, 3), (3, 4), (5, 6)]
    seeds = [(1, "en"), (6, "fr")]
    got = _lp(spark, edges, seeds, n_iter=3)
    assert got[1] == "en" and got[2] == "en"
    assert got[3] == "en" and got[4] == "en"  # 3 rounds reach depth 3
    assert got[5] == "fr" and got[6] == "fr"
    got1 = _lp(spark, edges, seeds, n_iter=1)
    assert got1[2] == "en" and got1[3] is None  # depth-1 only


def test_label_prop_mode_and_tie(spark):
    """A node hearing two 'en' neighbors and one 'fr' takes the mode;
    a 1-1 tie takes the SMALLEST label; clamped seeds never flip."""
    edges = [(10, 1), (10, 2), (10, 3), (20, 4), (20, 5), (4, 5)]
    seeds = [(1, "en"), (2, "en"), (3, "fr"), (4, "fr"), (5, "en")]
    got = _lp(spark, edges, seeds, n_iter=1)
    assert got[10] == "en"          # mode 2:1
    assert got[20] == "en"          # 1-1 tie -> min("en","fr")
    assert got[4] == "fr" and got[5] == "en"  # clamps hold


def test_label_prop_sql_mirror_bitwise(spark):
    """The unrolled DuckDB mirror reproduces the Spark labeling exactly
    on a random graph with a partial seed set (including NULLs for
    unreached nodes)."""
    import random

    import duckdb

    from map_reduce_folds_spark.operators import graph as G

    rnd = random.Random(42)
    edges = sorted({(rnd.randrange(60), rnd.randrange(60))
                    for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    seeds = [(n, rnd.choice("abc")) for n in range(60) if n % 4 == 0]
    e = spark.createDataFrame(edges, "id_a int, id_b int")
    s = spark.createDataFrame(seeds, "node int, label string")
    got = {r["node"]: r["label"]
           for r in G.label_propagation(e, s, n_iter=4).collect()}
    con = duckdb.connect()
    ev = ", ".join(f"({a}, {b})" for a, b in edges)
    sv = ", ".join(f"({n}, '{l}')" for n, l in seeds)
    sql = G.label_propagation_sql(
        f"SELECT * FROM (VALUES {ev}) t(s, t)",
        f"SELECT * FROM (VALUES {sv}) t(u, lab)", n_iter=4)
    want = {int(r[0]): r[1] for r in con.sql(sql).fetchall()}
    assert got == want


def test_sparsify_topk_edges_union_rule_and_cap(spark):
    """Per-node top-k by (weight, neighbor): an edge survives if EITHER
    endpoint ranks it (union rule); post-cap degree counting proves
    |E| <= k*n; ties break deterministically by neighbor id."""
    from map_reduce_folds_spark.operators import graph as G

    # star: hub 0 connected to 1..9 with weights = neighbor id;
    # plus a chain edge (8, 9) with weight 0 (best for both 8 and 9)
    rows = [(0, v, v) for v in range(1, 10)] + [(8, 9, 0)]
    pairs = spark.createDataFrame(rows, "id_a bigint, id_b bigint,"
                                        " hamming bigint")
    out = G.sparsify_topk_edges(pairs, k=2)
    edges = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # hub keeps (0,1),(0,2); every leaf v keeps its only hub edge ->
    # union keeps ALL hub edges; (8,9) kept by both its endpoints
    assert (0, 1) in edges and (0, 2) in edges
    assert (8, 9) in edges
    assert (0, 9) in edges  # leaf 9 ranks hub edge in ITS top-2 (union)
    # per-node ranking respected: node 9's top-2 = (8,9 w=0),(0,9 w=9)
    degs = {}
    for a, b in edges:
        degs[a] = degs.get(a, 0) + 1
        degs[b] = degs.get(b, 0) + 1
    n_nodes = len({x for e in edges for x in e})
    assert len(edges) <= 2 * n_nodes  # |E| <= k*n


def test_sparsify_topk_equals_bruteforce_reference(spark):
    """Random weighted graph: the kept edge set equals a Python
    reference implementing the same (weight, neighbor) union rule."""
    import random

    from map_reduce_folds_spark.operators import graph as G

    rng = random.Random(47)
    raw = set()
    while len(raw) < 120:
        a, b = rng.randrange(25), rng.randrange(25)
        if a != b:
            raw.add((min(a, b), max(a, b)))
    rows = [(a, b, rng.randrange(10)) for a, b in sorted(raw)]
    pairs = spark.createDataFrame(rows, "id_a bigint, id_b bigint,"
                                        " hamming bigint")
    k = 3
    inc: dict[int, list] = {}
    for a, b, w in rows:
        inc.setdefault(a, []).append((w, b))
        inc.setdefault(b, []).append((w, a))
    keep = set()
    for u, lst in inc.items():
        for w, v in sorted(lst)[:k]:
            keep.add((min(u, v), max(u, v)))
    got = {(r["id_a"], r["id_b"])
           for r in G.sparsify_topk_edges(pairs, k=k).collect()}
    assert got == keep


def test_kcore_peel_chain_vs_clique(spark):
    """A triangle with a pendant chain: the 2-core keeps exactly the
    triangle (each at degree 2); the chain peels away over rounds."""
    from map_reduce_folds_spark.operators.graph import kcore_peel
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),          # triangle
         (3, 4), (4, 5), (5, 6)],         # chain hanging off node 3
        "a bigint, b bigint")
    out = {r["node"]: r["deg"]
           for r in kcore_peel(edges, "a", "b", k=2, rounds=6).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_peel_fixed_rounds_and_convergence(spark):
    """Too few rounds leaves chain remnants (the fixed-round contract:
    both engines run the same sweeps); at convergence an extra sweep
    changes nothing — also asserted for the REGISTERED fixture row, so
    the 6-round oracle is a true k-core there."""
    from map_reduce_folds_spark.operators.graph import kcore_peel
    chain = [(i, i + 1) for i in range(1, 8)]
    edges = spark.createDataFrame(chain + [(10, 11), (11, 12), (10, 12)],
                                  "a bigint, b bigint")
    # chain of 7 edges needs ceil(7/2)=4 sweeps to vanish (peels from
    # both ends); after 1 round the interior survives
    r1 = kcore_peel(edges, "a", "b", k=2, rounds=1).collect()
    assert {r["node"] for r in r1} > {10, 11, 12}
    r4 = {r["node"] for r in
          kcore_peel(edges, "a", "b", k=2, rounds=4).collect()}
    r5 = {r["node"] for r in
          kcore_peel(edges, "a", "b", k=2, rounds=5).collect()}
    assert r4 == r5 == {10, 11, 12}


def test_kcore_registered_row_converged(spark):
    """The registered 6-round fixture row is at fixpoint: a 7th sweep
    returns the identical (node, deg) set at sf0.001."""
    from map_reduce_folds_spark.operators import dedup as D
    from map_reduce_folds_spark.operators.graph import kcore_peel
    from map_reduce_folds_spark.sources import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.simhash_near_dup_pairs_factored(
        d, "doc_id", "text", bits=60, max_hamming=3, blocks="auto")
    six = {(r["node"], r["deg"]) for r in
           kcore_peel(pairs, "id_a", "id_b", k=2, rounds=6).collect()}
    seven = {(r["node"], r["deg"]) for r in
             kcore_peel(pairs, "id_a", "id_b", k=2, rounds=7).collect()}
    assert six == seven and six


def test_kcore_weighted_factored_equals_doc_level(spark):
    """The signature-factored weighted peel equals kcore_peel over the
    materialized doc pair graph — node set AND per-doc degrees — at
    sf0.001, for k=2 and k=3 and short of convergence (rounds=1)."""
    from map_reduce_folds_spark.operators import dedup as D
    from map_reduce_folds_spark.operators.graph import kcore_peel
    from map_reduce_folds_spark.sources import load_table
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = D.simhash_near_dup_pairs_factored(
        d, "doc_id", "text", bits=60, max_hamming=3, blocks="auto")
    for k, rounds in ((2, 6), (3, 6), (2, 1)):
        doc = {(r["node"], r["deg"]) for r in
               kcore_peel(pairs, "id_a", "id_b",
                          k=k, rounds=rounds).collect()}
        fac = {(r["node"], r["deg"]) for r in
               D.simhash_kcore_factored(
                   d, "doc_id", "text", bits=60, max_hamming=3,
                   blocks="auto", k=k, rounds=rounds).collect()}
        assert doc == fac, (k, rounds, len(doc), len(fac))
        assert doc


_CHAIN = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (10, 11)]


def _chain(spark):
    return spark.createDataFrame(_CHAIN, "src bigint, dst bigint")


# one call per user of the round driver: case -> (call(spark, tmp_dir),
# persisted RDDs the returned frame may hold: its own checkpoint)
_DRIVER_CALLS = {
    "cc_memory": (lambda sp, _: G.connected_components(_chain(sp)), 1),
    "cc_table": (lambda sp, tmp: G.connected_components(
        _chain(sp), checkpoint_dir=tmp), 0),
    "pagerank": (lambda sp, _: G.pagerank(_chain(sp), n_iter=4), 1),
    "pagerank_seeded": (lambda sp, _: G.pagerank(
        _chain(sp), n_iter=4, seeds=[1, 10]), 1),
    "pagerank_weighted": (lambda sp, _: G.pagerank(
        sp.createDataFrame([(a, b, a + b) for a, b in _CHAIN],
                           "src bigint, dst bigint, w bigint"),
        n_iter=4, weight_col="w"), 1),
    "bfs_hops": (lambda sp, _: G.bfs_hops(_chain(sp), [1], max_hops=6), 1),
    "label_propagation": (lambda sp, _: G.label_propagation(
        _chain(sp), sp.createDataFrame([(1, "a"), (10, "b")],
                                       "node bigint, label string"),
        "src", "dst"), 1),
    "kcore_peel": (lambda sp, _: G.kcore_peel(
        _chain(sp), "src", "dst", k=2, rounds=3), 1),
    "kcore_peel_weighted": (lambda sp, _: G.kcore_peel_weighted(
        sp.createDataFrame([(1, 2), (2, 1), (3, 1)], "node bigint, m bigint"),
        sp.createDataFrame([(1, 2), (2, 3), (1, 3)], "u bigint, v bigint"),
        k=2, rounds=2), 1),
}


@pytest.mark.parametrize("case", list(_DRIVER_CALLS))
def test_round_driver_releases_cache_and_superseded_rounds(
        spark, tmp_path, case):
    """Every user of the round driver leaves no CacheManager entry, keeps
    at most the persisted RDDs its result reads (every superseded
    round's checkpoint is released), and returns a frame that still
    collects after the edge cache is gone."""
    call, held = _DRIVER_CALLS[case]
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = call(spark, str(tmp_path))
    assert cm.isEmpty()
    grown = spark.sparkContext._jsc.getPersistentRDDs().size() - before
    assert grown <= held, grown
    assert out.collect()


def test_kcore_peel_weighted_rejects_edges_without_u_v(spark):
    """The (u, v) column check is a ValueError raised before any plan is
    built — not an assert, which ``python -O`` strips."""
    w = spark.createDataFrame([(1, 2)], "node bigint, m bigint")
    e = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    with pytest.raises(ValueError, match=r"columns \(u, v\)"):
        G.kcore_peel_weighted(w, e, k=2, rounds=2)
