"""Distributed connected components over an edge list.

Reference analog: none — the reference's fold algebra (Core.hs, Simple.hs)
has no graph operators.  This module is part of the north-star
LLM-data-pipeline surface: cluster-based near-dup deduplication.  LSH /
SimHash candidate generation (operators/dedup.py, operators/similarity.py)
emits *pairs*; real corpus dedup needs the transitive closure of those
pairs — A~B and B~C must collapse into ONE cluster even when A~C was never
surfaced — so the canonical-document choice is made per component, not per
pair.  That closure is exactly connected components.

Algorithm: hash-to-min label propagation WITH pointer doubling (Rastogi
et al., "Finding Connected Components in Map-Reduce in Logarithmic
Rounds", ICDE 2013 — public literature).  Every node starts labeled with
its own id; each round every node takes the min label over itself, its
neighbors' labels, and its LABEL'S label (the shortcutting/doubling step
— label(u) is always a node of u's component, so chasing two hops stays
inside the component while halving the remaining path length).  At
fixpoint the label is the component's min node id.  One round = two
shuffle joins (labels into edges; labels into labels) + one
min-aggregation — all map-side-combinable, no driver-side data beyond a
per-round fixpoint aggregate.  Rounds needed = O(log longest-path):
near-clique dedup graphs close in 2-3 rounds, and even a pathological
1000-node chain closes in ~10 (property-tested), so ``max_iter=25``
covers any realistic graph.

100 TB shape: labels and edges shuffle on node id each round — linear in
|E|, never quadratic.  The convergence check collects ONE aggregate per
round (bounded driver traffic, inherent to an iterative fixpoint).

Rounds.  The six iterative operators (:func:`connected_components`,
:func:`pagerank`, :func:`bfs_hops`, :func:`label_propagation`,
:func:`kcore_peel`, :func:`kcore_peel_weighted`) run on one round driver,
:class:`_RoundDriver`, which fixes four things for all of them:

* **Edge cache.**  The operator's edge view is cached hash-partitioned
  AND sorted by the key every round joins it on, and unpersisted when
  the operator returns or raises.  Cached plans keep their partitioning
  (AQE does not rewrite them), so each round's sort-merge join
  re-shuffles only the node-sized state: the edge relation crosses the
  network once at build instead of once per round, and the caller's
  (often expensive candidate-pair) lineage is computed once.
* **Cut.**  Every round's state is a lazy ``localCheckpoint``: a hard
  lineage and plan cut.  A round body references its state several
  times (CC three times, the k-core peels twice), so without a cut the
  logical plan multiplies per round — measured 2.6 s → 8.8 s → 48 s →
  140 s of analysis per CC round with ``persist()`` alone, and 2^R
  replans in the peels.  With ``checkpoint_dir`` (CC) the cut is a
  parquet write to one of two alternating slots instead.
* **Materialisation.**  A round is materialised by the operator's own
  per-round action when it has one — CC's label sum, BFS's visited
  count — which is also the fixpoint test: an unchanged measure ends
  the loop, and a measured operator that must converge raises when it
  has not within its bound.  Fixed-round operators materialise only
  their final round, eagerly, before the edge cache is released (a lazy
  final cut would replay every round from the caller's lineage once
  the cache is gone).
* **Release.**  Once a round is materialised, the checkpoint blocks of
  every earlier round are unpersisted: the materialised round no
  longer reads them.  Only the returned state's checkpoint outlives the
  call, instead of one per round until JVM garbage collection.
"""

from __future__ import annotations

import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected view of an edge list: both directions, deduplicated,
    self-loops dropped (they never change a component).

    Built with a per-row explode rather than ``fwd.union(rev)``: a union
    scans the upstream lineage TWICE, and CC's edge input is typically an
    expensive candidate-pair pipeline (LSH / SimHash) — with explode it
    is computed once and each row fans out to its two directions."""
    both = edges.select(
        F.explode(F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )).alias("e")
    ).select("e.u", "e.v")
    return both.where(F.col("u") != F.col("v")).distinct()


def contract_pairs_local(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_chunk_nodes: int = 4_000_000,
) -> DataFrame:
    """Per-partition union-find contraction: ONE narrow Arrow pass that
    collapses every locally-connected subgraph to a star on its min node
    — the spanning-forest phase of two-phase distributed union-find (the
    classic MapReduce-CC preprocessing; see also Kiveris et al.'s
    large-star contraction, public literature).

    Output: ``(u, v)`` edges with ``v`` = the min id of ``u``'s
    local component (``u > v`` always; root nodes appear only on the
    ``v`` side).  Components are EXACTLY preserved — the output is the
    union of per-partition spanning forests — so any downstream CC over
    the contracted edges yields identical labels, independent of how rows
    landed in partitions (min-id canonicalization is partition-invariant).

    Why it matters at 100 TB: dedup pair streams are near-cliques, so
    |E| is quadratic in cluster size while the forest is LINEAR in the
    node count — the contraction happens before any shuffle, in the map
    stage that already has to read the pairs.  Chains that would cost the
    label-propagation loop O(log diameter) rounds collapse to depth 1
    wherever they are partition-local.

    Memory: the union-find dict holds the partition's node set; when it
    exceeds ``max_chunk_nodes`` the forest-so-far is emitted and the
    structure reset (correctness unaffected — contraction simply becomes
    per-chunk), bounding heap at O(max_chunk_nodes) per task."""
    sel = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    schema = sel.schema

    def gen(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        def flush():
            out = [(n, find(n)) for n in parent]
            parent.clear()
            return pd.DataFrame(
                {"u": [a for a, b in out], "v": [b for a, b in out]})

        for pdf in batches:
            for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
            if len(parent) >= max_chunk_nodes:
                yield flush()
        if parent:
            yield flush()

    return sel.mapInPandas(gen, schema=schema)


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD that holds a ``localCheckpoint``'d frame's rows."""
    return df._jdf.queryExecution().logical().rdd()


class _RoundDriver:
    """The round driver (module docstring, *Rounds*).  As a context
    manager it pins ``view`` — the operator's edge relation —
    hash-partitioned and sorted by ``key`` as :attr:`edges`, and
    unpersists it on exit, plus every round's checkpoint when the
    operator raises; :meth:`run` is the round loop."""

    def __init__(
        self, view: DataFrame, key: str, checkpoint_dir: str | None = None
    ):
        self.edges = (view.repartition(key).sortWithinPartitions(key)
                      .persist())
        self._cuts: list[DataFrame] = []
        # table-backed slots are namespaced per invocation: a second run
        # sharing checkpoint_dir must not overwrite the slot that backs
        # an earlier, not yet consumed lazy result
        self._slots = (None if checkpoint_dir is None
                       else f"{checkpoint_dir}/rounds_{uuid.uuid4().hex[:12]}")

    def __enter__(self) -> "_RoundDriver":
        return self

    def __exit__(self, exc_type, *_) -> None:
        if exc_type is not None:
            self.release()
        self.edges.unpersist()

    def _cut(self, df: DataFrame, rnd: int, eager: bool) -> DataFrame:
        if self._slots is not None:
            # round rnd reads only slot (rnd - 1) % 2, so the overwrite
            # never touches a slot its own job is reading
            path = f"{self._slots}/slot{rnd % 2}"
            df.write.mode("overwrite").parquet(path)
            return df.sparkSession.read.parquet(path)
        df = df.localCheckpoint(eager=eager)
        self._cuts.append(df)
        return df

    def release(self, keep: DataFrame | None = None) -> None:
        """Unpersist the checkpoint blocks of every cut but ``keep``."""
        for df in self._cuts:
            if df is not keep:
                _checkpoint_rdd(df).unpersist(False)
        self._cuts = [] if keep is None else [keep]

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        rounds: int,
        measure: Callable[[DataFrame], Any] | None = None,
        stall: str | None = None,
    ) -> DataFrame:
        """Cut ``state`` as round 0, then ``state = step(state, i)`` for
        rounds ``i = 1..rounds``, each cut.  With ``measure``, every
        round is materialised by it and an unchanged value is the
        fixpoint; running out of rounds raises ``RuntimeError(stall)``
        when ``stall`` is given.  Without it the rounds are fixed and only
        the last is materialised, eagerly."""
        fixed = measure is None
        state = self._cut(state, 0, eager=fixed and rounds == 0)
        m = None if fixed else measure(state)
        for i in range(1, rounds + 1):
            state = self._cut(step(state, i), i, eager=fixed and i == rounds)
            if fixed:
                continue
            prev, m = m, measure(state)
            self.release(keep=state)
            if m == prev:
                return state
        if not fixed and stall is not None:
            raise RuntimeError(stall)
        self.release(keep=state)
        return state


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    contract: bool = True,
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``.

    Returns one row per node appearing in ``edges``: ``(node, component)``
    where ``component`` is the minimum node id in the node's component —
    a deterministic canonical representative (the same convention as
    ``exact_dedup_keep_first``'s min-id winner).

    Iterative hash-to-min (module docstring); raises ``RuntimeError`` if
    the fixpoint is not reached within ``max_iter`` rounds rather than
    returning silently-wrong partial labels.

    Node ids must be NUMERIC (the fixpoint detector sums labels; doc/vec
    ids in this engine are) — hash string keys to int64 first
    (``text.hash60``) or add a dense-rank id.

    ``checkpoint_dir``: back each round's label table with a parquet
    write (two alternating slots — disk bounded at 2×|labels| per
    invocation, heap at ~zero) instead of ``localCheckpoint``.  The
    in-memory default is fastest for label sets that fit the executor
    storage pool; the table form keeps even the current round's labels
    off the heap (measured: an in-memory run OOMed at 60M nodes × ~5
    rounds on an 8 GiB local[32] heap, table-backed runs fine at the
    same size) and on a cluster is also executor-loss-safe; use it
    whenever |nodes| × rounds threatens the storage pool.  Slots are
    namespaced under a fresh per-invocation subdirectory, so the
    returned (lazy) DataFrame stays valid when later calls reuse the same
    ``checkpoint_dir``; the caller owns deleting the directory when all
    results are consumed."""
    # two-phase union-find (round-10): per-partition spanning-forest
    # contraction runs FIRST — pass 1 collapses partition-local
    # chains/cliques to min-id stars in the same map pass that reads the
    # (often expensive) pair lineage; pass 2 repartitions the forest by
    # node so every node's star edges co-locate and merge, leaving only
    # cross-partition residue for the propagation loop (typically 1-2
    # rounds instead of O(log diameter)).  Measured on the 10× graphs:
    # 4.5 s → 1.8 s (637k-edge SimHash graph), 4.6 s → 1.4 s (sparse SRP
    # chain graph); a 3rd pass only adds overhead.  Labels are unchanged
    # (each forest spans exactly the same components; min-id is
    # partition-invariant) — property-tested equal to contract=False in
    # tests/test_graph.py.
    if contract:
        f1 = contract_pairs_local(edges, src, dst)
        edges = contract_pairs_local(f1.repartition("u"), "u", "v")
        src, dst = "u", "v"
    with _RoundDriver(symmetric_edges(edges, src, dst), "u",
                 checkpoint_dir) as rd:
        sym = rd.edges

        def label_sum(lb: DataFrame):
            # labels are per-node monotone non-increasing, so the exact
            # total (decimal(38) — no overflow at any node count) is a
            # fixpoint detector: sum unchanged ⇔ no label changed.  One
            # tiny aggregate per round instead of a new-vs-old join.
            return lb.agg(F.sum(F.col("label").cast("decimal(38,0)"))) \
                .first()[0]

        def step(labels: DataFrame, _: int) -> DataFrame:
            # pointer doubling: u may also inherit its label's label —
            # label(label(u)) is in u's component by the propagation
            # invariant, and chasing two hops per round turns O(diameter)
            # rounds into O(log n) on path-shaped components (the classic
            # shortcutting step; near-clique dedup graphs converge in 2-3
            # rounds either way)
            jumped = (
                labels.alias("l1")
                .join(labels.alias("l2"),
                      F.col("l1.label") == F.col("l2.u"))
                .select(F.col("l1.u").alias("u"),
                        F.col("l2.label").alias("label"))
            )
            # propagate: every neighbor of u may inherit u's label
            return (sym.join(labels, "u")
                    .select(F.col("v").alias("u"), "label")
                    .union(labels)
                    .union(jumped)
                    .groupBy("u").agg(F.min("label").alias("label")))

        # seed: each node's label = min(self, direct neighbors) — this
        # folds the first propagation round into the seed aggregation.
        # Single scan, least(u, min(v)) — NOT a two-branch union over
        # sym: a union's branches are separate stages that race to
        # populate sym's cache on first materialization, so the expensive
        # upstream pair lineage (LSH candidate + verify) could compute
        # TWICE in the seed job; one groupBy scans it exactly once.
        seed = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least(F.col("mv"), F.col("u")).alias("label")))
        labels = rd.run(
            seed, step, max_iter, measure=label_sum,
            stall=f"connected_components did not converge in {max_iter} "
                  "rounds — with pointer doubling this takes "
                  "~log2(longest path) rounds, so raise max_iter (25 covers "
                  "components of ~2^25 path length)")
    return labels.select(F.col("u").alias("node"),
                         F.col("label").alias("component"))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    **cc_kw,
) -> DataFrame:
    """Cluster-based near-dup dedup: keep ONE canonical row (min id) per
    connected component of the pair graph, plus every row in no pair.

    The standard corpus-dedup topology: candidate pairs (MinHash / SimHash
    / embedding LSH) → transitive closure → per-cluster canonical.  A
    pairwise keep-min rule is NOT equivalent: with A~B and B~C only, B and
    C would both survive pairwise rules even though they share a cluster
    through B.  Anti-join + broadcastable component table (components are
    at most |nodes-in-pairs| rows, typically a tiny fraction of the
    corpus)."""
    comp = connected_components(pairs, id_a, id_b, **cc_kw)
    losers = comp.where(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# PageRank (fixed-point integer arithmetic)
# ---------------------------------------------------------------------------

def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: tuple[int, int] = (85, 100),
    scale: int = 10 ** 12,
    seeds: list | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over a DIRECTED edge list by power iteration —
    ``(node, rank_scaled, rank)`` after exactly ``n_iter`` rounds.

    All arithmetic is FIXED-POINT INTEGER: ranks live as bigints scaled
    by ``scale`` and every step is integer multiply/divide (``div``), so
    the result is bit-identical on any engine, partitioning, or run —
    float summation order never enters (the same trick as q1's
    long-backed sums).  With damping d = num/den:

        r₀(u)   = scale // N
        rₜ₊₁(v) = base + (num · Σ_{u→v} (rₜ(u) div outdeg(u))) div den
        base    = ((den − num) · (scale // N)) // den      (driver literal)

    Truncation loses < outdeg ulp per node per round (ulp = 1/scale =
    1e-12) — far below any ranking use — and mass lost to truncation and
    to dangling nodes (no out-edges; no redistribution, the common
    simplified variant) only shrinks ranks uniformly.  Parallel edges
    are multigraph weights: each contributes separately and outdeg
    counts multiplicity.

    100 TB shape: per round one src-keyed join (rank+degree into edges)
    and one dst-keyed sum aggregation (map-side combinable) — linear in
    |E|, on the round driver (module docstring, *Rounds*).  The node
    count N is one driver count (needed for the teleport literal;
    bounded metadata, inherent to the formula)."""
    num, den = damping
    if seeds is not None:
        seeds = sorted(set(seeds))
        if not seeds:
            raise ValueError("pagerank: empty seeds list")
    cols = [F.col(src).alias("s"), F.col(dst).alias("t")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("bigint").alias("w"))
        deg, contrib_expr = F.sum("w"), "(r * w) div d"
    else:
        deg, contrib_expr = F.count(F.lit(1)), "r div d"
    # r14 loop-invariant hoist: every round's edge join needs the source's
    # out-degree d, which depends only on the edges — attach it ONCE
    # (a window over s: one scan of the caller's lineage, no self-join)
    # and pin the result on "s", so each round re-shuffles only the
    # node-sized rank table: per-round Exchanges drop from 3 (e, r,
    # contrib) to 2 node-scale ones (r, contrib partial-agg).  At
    # |E| >> |V| the edge shuffle per round is pagerank's dominant cost.
    # Integer fixed-point arithmetic ⇒ ranks are bit-identical regardless.
    view = edges.select(*cols).withColumn(
        "d", deg.over(Window.partitionBy("s")))
    with _RoundDriver(view, "s") as rd:
        ed = rd.edges
        nodes = (ed.select(F.col("s").alias("u"))
                 .union(ed.select(F.col("t").alias("u"))).distinct())
        counts = [F.count(F.lit(1))]
        if seeds is not None:
            counts.append(F.count_if(F.col("u").isin(seeds)))
        n, *n_present = nodes.agg(*counts).first()
        if n == 0:
            raise ValueError("pagerank: empty edge list")
        if seeds is not None:
            # personalized (topic-sensitive) PageRank: all teleport mass
            # goes to the seed set — ranks become proximity-to-seeds
            # scores.  The seed list is a driver-side literal (bounded
            # metadata; an IN predicate over ≤ thousands of ids — for
            # larger seed sets join a seed table instead)
            if n_present[0] != len(seeds):
                raise ValueError(
                    f"pagerank: {len(seeds) - n_present[0]} of {len(seeds)} "
                    "seeds do not appear in the edge list — their teleport "
                    "mass would silently vanish (all-absent seeds would zero "
                    "every rank); fix the seed ids or drop the absent ones "
                    "explicitly")
            r0_amt = scale // len(seeds)
            base_amt = ((den - num) * r0_amt) // den
            is_seed = F.col("u").isin(seeds)
            r0_col = F.when(is_seed, F.lit(r0_amt)).otherwise(F.lit(0))
            base_col = F.when(is_seed, F.lit(base_amt)).otherwise(F.lit(0))
        else:
            r0_col = F.lit(scale // n)
            base_col = F.lit(((den - num) * (scale // n)) // den)
        if weight_col is not None:
            # overflow guard: contributions compute r·w with r ≤ scale, so
            # a single edge weight beyond (2^63-1)/scale wraps the bigint
            # product silently (ANSI off) or errors in the oracle — refuse
            # loudly; pre-scale weights (divide the batch by a constant)
            # to stay exact under the cap
            w_cap = (2 ** 63 - 1) // scale
            w_max = ed.agg(F.max("w")).first()[0]
            if w_max is not None and w_max > w_cap:
                raise ValueError(
                    f"pagerank: max edge weight {w_max} exceeds {w_cap} "
                    f"(= (2^63-1)/scale at scale={scale}); r*w would "
                    "overflow int64 — divide the weights by a common factor "
                    "first (ranks are invariant to uniform weight scaling)")

        def step(r: DataFrame, _: int) -> DataFrame:
            # one zero row per node keeps nodes without in-edges, so ONE
            # aggregation yields every node's sum — no join back to the
            # node set, whose layout a checkpoint does not keep.  Edges
            # into a NULL node contribute nothing, as in the SQL mirror's
            # join.
            contrib = (
                ed.join(r.withColumnRenamed("u", "s"), "s")
                .where(F.col("t").isNotNull())
                .select(F.col("t").alias("u"),
                        F.expr(contrib_expr).alias("c"))
                .union(r.select("u", F.lit(0).cast("bigint").alias("c")))
            )
            return contrib.groupBy("u").agg(F.sum("c").alias("csum")).select(
                "u",
                (base_col.cast("bigint")
                 + F.expr(f"({num} * csum) div {den}")).cast("bigint")
                .alias("r"),
            )

        r = rd.run(nodes.withColumn("r", r0_col.cast("bigint")), step,
                   n_iter)
    return r.select(
        F.col("u").alias("node"),
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def pagerank_sql(
    edges_sql: str,
    n_iter: int = 10,
    damping: tuple[int, int] = (85, 100),
    scale: int = 10 ** 12,
    seeds: list | None = None,
    weighted: bool = False,
) -> str:
    """DuckDB mirror of :func:`pagerank` as UNROLLED chained CTEs (one
    per iteration — standard SQL forbids aggregation in a recursive CTE
    term, and unrolling keeps every step plain).  ``edges_sql`` must
    yield columns ``(s, t)`` — or ``(s, t, w)`` with ``weighted=True``
    (mirroring ``pagerank(weight_col=)``).  N is computed in-SQL, and
    both ``//`` (DuckDB) and ``div`` (Spark) floor nonnegative
    quotients, so every intermediate matches the Spark bigints
    exactly."""
    num, den = damping

    def lit(v) -> str:
        return "'" + str(v).replace("'", "''") + "'" if isinstance(v, str) \
            else str(v)

    if seeds is not None:
        sd = sorted(set(seeds))
        in_list = ", ".join(lit(v) for v in sd)
        r0_amt = scale // len(sd)
        base_amt = ((den - num) * r0_amt) // den
        r0_expr = (f"CASE WHEN u IN ({in_list}) "
                   f"THEN CAST({r0_amt} AS BIGINT) ELSE 0 END")
        base_expr = (f"CASE WHEN n.u IN ({in_list}) "
                     f"THEN CAST({base_amt} AS BIGINT) ELSE 0 END")
    else:
        r0_expr = "(SELECT CAST({s} AS BIGINT) // n FROM nn)".format(s=scale)
        base_expr = ("(SELECT (({dn}) * (CAST({s} AS BIGINT) // n)) // {d} "
                     "FROM nn)").format(dn=den - num, s=scale, d=den)
    cte = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT u FROM "
        "(SELECT s AS u FROM e UNION ALL SELECT t FROM e))",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        ("deg AS (SELECT s, SUM(w) AS d FROM e GROUP BY 1)" if weighted
         else "deg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY 1)"),
        f"r0 AS (SELECT u, {r0_expr} AS r FROM nodes)",
    ]
    c_expr = "SUM((r.r * e.w) // deg.d)" if weighted else "SUM(r.r // deg.d)"
    for i in range(n_iter):
        cte.append(
            f"r{i + 1} AS (SELECT n.u, "
            f"CAST({base_expr} + ({num} * COALESCE(s.c, 0)) // {den} "
            "AS BIGINT) AS r "
            "FROM nodes n LEFT JOIN "
            f"(SELECT e.t AS u, {c_expr} AS c "
            f"FROM e JOIN r{i} r ON e.s = r.u JOIN deg ON e.s = deg.s "
            "GROUP BY 1) s ON n.u = s.u)"
        )
    return (
        "WITH " + ",\n".join(cte) + f"\nSELECT u AS node, r AS rank_scaled, "
        f"CAST(r AS DOUBLE) / {float(scale)!r} AS rank FROM r{n_iter}"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count of the UNDIRECTED simple graph —
    one row ``(n_triangles)``: the row count of :func:`triangle_list`.

    Honest cost note: on near-CLIQUE graphs (e.g. duplicate-heavy
    near-dup pair graphs) the triangle COUNT itself is Σ s³/6 per
    clique — the output, not the algorithm, is cubic, and no counting
    strategy avoids materializing those wedges; count on the
    distinct-signature factored graph (dedup.simhash_components' rep
    graph) when clusters are large."""
    return triangle_list(edges, src, dst).agg(
        F.count(F.lit(1)).alias("n_triangles"))


def triangle_count_sql(edges_sql: str) -> str:
    """DuckDB mirror of :func:`triangle_count` (``edges_sql`` yields
    ``(s, t)``)."""
    return f"""
    WITH e AS ({edges_sql}),
    canon AS (
        SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
        FROM e WHERE least(s, t) < greatest(s, t)
    )
    SELECT COUNT(*) AS n_triangles
    FROM canon e1
    JOIN canon e2 ON e1.v = e2.u
    JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
    """


def bfs_hops(
    edges: DataFrame,
    seeds: list,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
) -> DataFrame:
    """Minimum hop distance from any of ``seeds`` to every node reachable
    within ``max_hops`` over the UNDIRECTED graph of ``edges`` — the
    k-hop neighborhood / shortest-path-length query (contamination blast
    radius, link-spam neighborhoods, "how close is this doc to a known
    cluster").

    Level-synchronous BFS: the frontier (nodes first reached at hop h)
    joins the symmetrized edge relation once per level, anti-joined
    against the visited set — each round shuffles |frontier ⋈ edges|
    rows, never the whole graph; converged components stop contributing
    as soon as their frontier empties.  The round state is the visited
    set; its count is the round driver's measure (module docstring,
    *Rounds*), so an empty frontier — an unchanged count — ends the loop
    early: one tiny count per level, the same bounded driver traffic as
    ``connected_components``' fixpoint aggregate.

    Output: ``(node, hops)`` with ``hops`` 0 for the seeds themselves.
    Deterministic: hop distance is a well-defined graph property — no
    tie-break needed."""
    spark = edges.sparkSession
    with _RoundDriver(symmetric_edges(edges, src, dst), "u") as rd:
        sym = rd.edges
        # Seeds adopt the EDGE column's type (string-keyed graphs
        # included) — a hard bigint cast would NULL string ids and
        # silently return an empty neighborhood.  Any seed the cast
        # cannot represent raises.  The cast runs on the driver-side
        # local relation (no Spark job); the seeds are a driver list.
        node_type = sym.schema["u"].dataType
        cast = spark.createDataFrame([(s,) for s in seeds], [src]).select(
            F.col(src).try_cast(node_type).alias("node"))
        nodes = [r[0] for r in cast.collect()]
        n_null = nodes.count(None)
        if n_null:
            raise ValueError(
                f"bfs_hops: {n_null} seed(s) not representable as the edge "
                f"node type {node_type.simpleString()}")
        seed_df = spark.createDataFrame(
            [(v,) for v in dict.fromkeys(nodes)], cast.schema)

        def step(visited: DataFrame, h: int) -> DataFrame:
            frontier = visited.where(F.col("hops") == h - 1) \
                .select(F.col("node").alias("u"))
            nxt = (
                sym.join(frontier, "u")
                .select(F.col("v").alias("node")).distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(h).cast("int"))
            )
            return visited.union(nxt)

        # the measure counts the checkpoint's rows directly: one job per
        # level (a DataFrame count adds an adaptive shuffle-stage job)
        return rd.run(seed_df.withColumn("hops", F.lit(0).cast("int")),
                      step, max_hops,
                      measure=lambda v: _checkpoint_rdd(v).count())


def bfs_hops_factored(
    membership: DataFrame,
    grp_edges: DataFrame,
    seed,
    node_col: str = "node",
    grp_col: str = "grp",
    src: str = "ga",
    dst: str = "gb",
    max_hops: int = 6,
) -> DataFrame:
    """:func:`bfs_hops` over a CLIQUE-BLOWUP graph, run at GROUP level.

    The node graph is defined by ``membership`` (node → group) plus
    ``grp_edges`` (edges between distinct groups): nodes sharing a group
    are pairwise adjacent (an n-clique per group) and every node of group
    A is adjacent to every node of group B when (A, B) is a group edge (a
    complete bipartite blowup).  This is exactly the SimHash/MinHash
    near-dup doc graph factored by signature
    (:func:`dedup.simhash_near_dup_pairs_factored`): hamming-0 same-sig
    cliques + verified cross-sig bicliques.

    Node adjacency depends only on the group, so hop distances factor
    exactly: the minimal node path never spends a step inside a group
    (all members of a group have identical neighborhoods; only a target
    sharing the SEED's group costs the one intra-clique hop), hence

    * seed node → 0;
    * other members of the seed's group → 1 (hamming-0 edge to the seed);
    * every member of group T → group-BFS distance d(S, T).

    The frontier is bounded by |distinct groups|, not |nodes| — the same
    factoring that took the 10× triangle count from OOM to seconds
    (r8), applied to the BFS whose 10× ratio (2.16×) was frontier growth
    over duplicate clusters.  Equality with doc-level
    ``bfs_hops(blown-up edges)`` is property-tested in tests/test_llm.py.

    Output: ``(node_col, hops)``, hops ``int`` — same shape and values
    as :func:`bfs_hops` over the expanded pair relation."""
    seed_row = (
        membership.where(F.col(node_col) == F.lit(seed))
        .select(grp_col).first()
    )
    if seed_row is None:
        raise ValueError(f"bfs_hops_factored: seed {seed!r} has no group "
                         f"in {node_col!r}→{grp_col!r} membership")
    seed_grp = seed_row[0]
    gd = bfs_hops(grp_edges, [seed_grp], src, dst, max_hops=max_hops)
    node_hops = (
        membership.join(
            gd.select(F.col("node").alias(grp_col),
                      F.col("hops").alias("__gh")),
            grp_col)
        .select(
            node_col,
            F.when(F.col(node_col) == F.lit(seed), F.lit(0))
            .when(F.col("__gh") == 0, F.lit(1))
            .otherwise(F.col("__gh")).cast("int").alias("hops"))
    )
    if max_hops < 1:
        # hop-0 cap: the intra-clique hop to the seed's co-members is out
        # of range — only the seed itself remains
        return node_hops.where(F.col("hops") == 0)
    return node_hops


def triangle_list(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Enumerate every triangle of the undirected simple graph as one row
    ``(x, y, z)`` with ``x < y < z`` (the building block
    :func:`dedup.simhash_triangle_count_factored` weights by group sizes;
    :func:`triangle_count` counts these rows).

    DEGREE-ORDERED orientation (the standard skew-proof distributed
    formulation): canonicalize to simple undirected edges, orient every
    edge from its lower-(degree, id) endpoint to the higher, generate
    wedges only at each vertex's ORIENTED out-neighbors, and close them
    against the canonical edge set.  Every triangle has exactly one
    vertex that is (degree, id)-minimal among its three, so it is
    listed exactly once; out-degrees in the oriented graph are bounded
    by O(√m), so the wedge volume is O(m^1.5) REGARDLESS of hub skew —
    a plain low→high-id orientation instead puts a celebrity hub's full
    deg² wedge set in one place.  Self-loops and duplicate/reverse edges
    are removed by the canonical dedup; no cartesian anywhere."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
        # lazy localCheckpoint: reused by the degree/wedge/closing joins
        # within the consuming action; GC-cleaned, unlike persist()
        # blocks which leak in the CacheManager for the session's life
        .localCheckpoint(eager=False)
    )
    deg = (
        canon.select(F.col("u").alias("x"))
        .union(canon.select(F.col("v").alias("x")))
        .groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    )
    withd = (
        canon.join(deg.withColumnRenamed("x", "u")
                      .withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v")
                 .withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = withd.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"),
              (F.col("e1.a") == F.col("e2.a"))
              & (F.col("e1.b") < F.col("e2.b")))
        .select(F.col("e1.a").alias("w"),
                F.col("e1.b").alias("p"), F.col("e2.b").alias("q"))
    )
    tri = wedges.join(
        canon.alias("e3"),
        (F.least(F.col("p"), F.col("q")) == F.col("e3.u"))
        & (F.greatest(F.col("p"), F.col("q")) == F.col("e3.v")),
    ).select("w", "p", "q")
    return tri.select(
        F.least(F.col("w"), F.least(F.col("p"), F.col("q"))).alias("x"),
        F.expr("array_sort(array(w, p, q))")[1].alias("y"),
        F.greatest(F.col("w"), F.greatest(F.col("p"), F.col("q"))).alias("z"),
    )


def transition_probs(
    df: DataFrame,
    key: str,
    order_by: list,
    state_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-key state journeys:
    order each key's rows by ``order_by``, pair every state with its
    successor (``lead`` — one window pass, no self-join), and estimate
    ``P(next | prev) = n(prev→next) / n(prev→·)`` by maximum likelihood.

    The denominator rides a tiny window sum over the |states|² count
    relation (bounded by the state vocabulary, not the event count), so
    the whole plan is one shuffle on ``key`` for the lead, one partial
    aggregation on (prev, next), and a broadcast-sized window — the same
    edge relation :func:`pagerank` walks, exposed as probabilities.
    ``prob`` is a SINGLE bigint/bigint division (exact same double in
    any engine).  Output: (prev, nxt, n, prob) — ``nxt`` because NEXT is
    reserved in some SQL dialects and the oracle mirrors the name.
    """
    w = Window.partitionBy(key).orderBy(*order_by)
    trans = (
        df.select(F.col(state_col).alias("prev"),
                  F.lead(state_col).over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
    )
    counts = trans.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("prev"))
    return counts.select(
        "prev", "nxt", "n",
        (F.col("n").cast("double") / tot).alias("prob"),
    )


def adamic_adar(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph given as
    (id_a, id_b) pairs: for every DISTANCE-2 pair (x, y) that is NOT
    already an edge, ``AA = Σ_{z ∈ Γ(x)∩Γ(y)} 1 / ln(deg z)`` — common
    neighbors weighted by how selective they are (a hub says little, a
    rare mutual contact says a lot).

    Determinism discipline: the per-pair sum is a SORTED fold — common
    neighbors collect as (deg, z) structs, array_sort pins the order,
    and the fold adds ``1/ln(deg)`` terms in that order (each term is a
    single ln + division on identical inputs; sub-ulp term noise stays
    orders below the 9-decimal rounding).  deg(z) ≥ 2 for any common
    neighbor, so ln > 0 by construction.

    Plan: symmetrize + distinct, one degree aggregation, the wedge
    self-join on the shared neighbor (cost Σ_z deg(z)² — the classic
    2-hop bound; hub nodes are the skew axis, same guard family as the
    triangle counter), one anti-join against existing edges, one
    aggregation.  Output: (id_a, id_b, n_common, aa) with id_a < id_b.
    """
    e = symmetric_edges(pairs.select(F.col(id_a).alias("u"),
                                     F.col(id_b).alias("v")), "u", "v") \
        .distinct().localCheckpoint(eager=False)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    a, b = e.alias("a"), e.alias("b")
    wedges = (
        a.join(b, (F.col("a.v") == F.col("b.v"))
               & (F.col("a.u") < F.col("b.u")))
        .select(F.col("a.u").alias("x"), F.col("b.u").alias("y"),
                F.col("a.v").alias("z"))
    )
    non_edge = wedges.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"], "left_anti")
    terms = non_edge.join(deg.withColumnRenamed("u", "z"), "z")
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("deg"),
                                             F.col("z")))),
        F.lit(0.0),
        lambda acc, s: acc + 1.0 / F.log(s["deg"].cast("double")))
    return (
        terms.groupBy(F.col("x").alias(id_a), F.col("y").alias(id_b))
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.round(folded, 9).alias("aa"))
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
    n_iter: int = 3,
) -> DataFrame:
    """Semi-supervised LABEL PROPAGATION over an undirected graph —
    the hard-clamp variant (Zhu & Ghahramani 2002's discrete cousin,
    Raghavan et al. 2007's update rule with deterministic ties): seeded
    nodes keep their label forever; every other node takes, each
    synchronous round, the MODE of its labeled neighbors' labels
    (ties → smallest label; no labeled neighbor → stays unlabeled).
    The LLM-pipeline use: spread trusted lang/quality/domain labels
    across the near-dup graph — near-duplicates of a labeled document
    inherit its label without a classifier.

    ENGINE-EXACT BY CONSTRUCTION: counts are integers, the
    argmax-with-min-tie is a struct-min over ``(-count, label)`` (the
    kmeans argmin convention), updates are synchronous with a FIXED
    round count — so :func:`label_propagation_sql` unrolls to the
    identical labeling (the pagerank convention; no randomized update
    order, the documented determinism trade of the classic LPA).

    100 TB shape: per round one src-keyed join (labels into edges), one
    (node, label)-keyed count, one node-keyed argmax, one left join
    back — all linear in |E|, on the round driver (module docstring,
    *Rounds*; the edges are pinned on "v", the side labels attach to).
    The round state carries each node's clamped seed label next to its
    current one, so no round re-reads the caller's seed lineage.
    Output: ``(node, label)`` with NULL for never-reached nodes."""
    with _RoundDriver(symmetric_edges(edges, src, dst), "v") as rd:
        e = rd.edges

        def step(cur: DataFrame, _: int) -> DataFrame:
            contrib = (
                e.join(cur.select(F.col("u").alias("v"),
                                  F.col("__lab").alias("__nl")), "v")
                .where(F.col("__nl").isNotNull())
                .groupBy("u", "__nl")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            pick = (contrib.groupBy("u")
                    .agg(F.min(F.struct(
                        (-F.col("__c")).alias("d"),
                        F.col("__nl").alias("l"))).alias("m"))
                    .select("u", F.col("m.l").alias("__pick")))
            return (cur.select("u", "__seed").join(pick, "u", "left")
                    .select("u", "__seed", F.coalesce("__seed", "__pick")
                            .alias("__lab")))

        sd = seeds.select(F.col(node_col).alias("u"),
                          F.col(label_col).alias("__seed"))
        cur = rd.run(
            e.select("u").distinct().join(sd, "u", "left")
            .select("u", "__seed", F.col("__seed").alias("__lab")),
            step, int(n_iter))
    return cur.select(F.col("u").alias(node_col),
                      F.col("__lab").alias(label_col))


def label_propagation_sql(
    edges_sql: str,
    seeds_sql: str,
    n_iter: int = 3,
) -> str:
    """DuckDB mirror of :func:`label_propagation` as unrolled CTEs.
    ``edges_sql`` must yield ``(s, t)`` (one row per undirected pair,
    either orientation); ``seeds_sql`` must yield ``(u, lab)``.  The
    symmetrize/dedup, clamp, integer mode counts, and ``(-c, label)``
    struct-min tie rule match the Spark operator exactly."""
    cte = [
        f"ein AS ({edges_sql})",
        "e AS (SELECT s AS u, t AS v FROM ein WHERE s != t "
        "UNION SELECT t, s FROM ein WHERE s != t)",
        "nodes AS (SELECT DISTINCT u FROM e)",
        f"sd AS ({seeds_sql})",
        "l0 AS (SELECT n.u, sd.lab FROM nodes n LEFT JOIN sd USING (u))",
    ]
    for i in range(int(n_iter)):
        cte.append(
            f"l{i + 1} AS (SELECT n.u, COALESCE(sd.lab, p.l) AS lab "
            "FROM nodes n LEFT JOIN sd USING (u) LEFT JOIN ("
            "SELECT u, (MIN({'d': -c, 'l': nl})).l AS l FROM ("
            "SELECT e.u, r.lab AS nl, COUNT(*) AS c "
            f"FROM e JOIN l{i} r ON e.v = r.u "
            "WHERE r.lab IS NOT NULL GROUP BY e.u, r.lab) g GROUP BY u"
            ") p USING (u))"
        )
    return ("WITH " + ",\n".join(cte)
            + f"\nSELECT u AS node, lab AS label FROM l{n_iter}")


def sparsify_topk_edges(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    weight_col: str = "hamming",
    k: int = 16,
    ascending: bool = True,
) -> DataFrame:
    """Deterministic k-NN GRAPH SPARSIFIER: keep, per node, its ``k``
    best incident edges by ``(weight, neighbor id)`` — the standard
    preprocessing before label propagation / PageRank on a DENSE
    similarity graph, where near-dup-rich corpora produce average
    degrees in the hundreds (measured: the fixture SimHash hamming≤3
    graph carries ~760 edges/node — linear pair MASS, but every
    propagation round pays it).  After the cap ``|E| ≤ k·n`` by
    construction, so iterative graph ops are linear in n regardless of
    how dense the raw similarity graph was.

    Union semantics (the standard kNN-graph rule): a canonical edge
    survives if EITHER endpoint ranks it in its top k — no node loses
    its best neighbors because the other side is popular.  Ranking is
    ``(weight asc|desc, neighbor id)`` — fully deterministic, so the
    sparsified edge set is engine-exact and SQL-mirrorable
    (ROW_NUMBER over the symmetrized incidence).

    Output: canonical ``(src, dst, weight)`` rows, ``src < dst``."""
    w = F.col(weight_col)
    sym = pairs.select(
        F.col(src).alias("__u"), F.col(dst).alias("__v"),
        w.alias("__w"),
    ).unionByName(pairs.select(
        F.col(dst).alias("__u"), F.col(src).alias("__v"),
        w.alias("__w")))
    order = [F.col("__w").asc() if ascending else F.col("__w").desc(),
             F.col("__v").asc()]
    rn = F.row_number().over(
        Window.partitionBy("__u").orderBy(*order))
    kept = sym.withColumn("__rn", rn).where(F.col("__rn") <= int(k))
    return (
        kept.select(
            F.least("__u", "__v").alias(src),
            F.greatest("__u", "__v").alias(dst),
            F.col("__w").alias(weight_col))
        .distinct()
    )


def sparsify_topk_edges_sql(
    pairs_sql: str,
    src: str = "id_a",
    dst: str = "id_b",
    weight_col: str = "hamming",
    k: int = 16,
    ascending: bool = True,
) -> str:
    """DuckDB mirror of :func:`sparsify_topk_edges`."""
    direction = "ASC" if ascending else "DESC"
    return f"""
    WITH praw AS ({pairs_sql}),
    sym AS (
        SELECT {src} AS u, {dst} AS v, {weight_col} AS w FROM praw
        UNION ALL
        SELECT {dst} AS u, {src} AS v, {weight_col} AS w FROM praw
    ),
    kept AS (
        SELECT u, v, w FROM (
            SELECT u, v, w,
                   ROW_NUMBER() OVER (PARTITION BY u
                                      ORDER BY w {direction}, v) AS rn
            FROM sym
        ) WHERE rn <= {int(k)}
    )
    SELECT DISTINCT least(u, v) AS {src}, greatest(u, v) AS {dst},
           w AS {weight_col}
    FROM kept
    """


def kcore_peel(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    rounds: int,
) -> DataFrame:
    """k-CORE via SYNCHRONIZED fixed-round peeling (Seidman 1983;
    Batagelj-Zaversnik is the sequential algorithm, this is its
    parallel synchronized form): repeat ``rounds`` times — compute each
    node's degree within the current surviving set, drop nodes with
    degree < k.  The near-dup graph use: a dup CLUSTER core survives
    peeling, a borderline CHAIN (degree ≤ 2 path) peels away — so the
    2-core separates real duplicate mass from transitive chains the
    way neardup_triangles' cliquishness score suggests but per-node.

    FIXED ``rounds`` is the determinism contract: both the Spark loop
    and the unrolled SQL mirror (:func:`kcore_peel_sql`) run EXACTLY
    ``rounds`` synchronized sweeps, so they agree even short of the
    fixpoint; convergence (one extra sweep removes nobody) is asserted
    at fixture scale in tests, and at cluster scale the caller bounds
    rounds the way pagerank bounds iterations (each sweep is one
    degree aggregation + one semi-join — peeling depth on near-dup
    graphs is small because chains are short).  Pure integer counting;
    no floats anywhere.

    Output: ``(node, deg)`` — surviving nodes with their degree inside
    the final core (so every deg ≥ k); empty when the k-core is empty.
    """
    # The round state is (node, deg): the survivors' degrees inside the
    # current survivor set.  Round 0 is every node's full degree; each
    # round keeps deg ≥ k and recomputes degrees among those, so after
    # ``rounds`` sweeps the state is the final core's degrees — the same
    # sweeps the SQL mirror unrolls.  The edges are pinned on "v"
    # (module docstring, *Rounds*).
    with _RoundDriver(symmetric_edges(edges, src, dst), "v") as rd:
        e = rd.edges

        def degrees(alive: DataFrame) -> DataFrame:
            return alive.groupBy("u").agg(
                F.count(F.lit(1)).cast("bigint").alias("deg")) \
                .select(F.col("u").alias("node"), "deg")

        def step(state: DataFrame, _: int) -> DataFrame:
            sv = state.where(F.col("deg") >= k).select("node")
            # v-join FIRST (reuses e's pinned v-layout), u-join second:
            # the sort-merge join on "u" leaves both sides u-partitioned,
            # so the groupBy("u") right after it needs no further
            # Exchange — one edge-relation shuffle per sweep instead of
            # three.
            return degrees(e.join(sv.withColumnRenamed("node", "v"), "v")
                           .join(sv.withColumnRenamed("node", "u"), "u"))

        return rd.run(degrees(e), step, int(rounds))


def kcore_peel_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB mirror of :func:`kcore_peel` — the same ``rounds``
    synchronized sweeps unrolled as chained CTEs over the symmetric
    deduplicated edge view.  ``edges_sql``: a SELECT yielding columns
    ``s, t`` (one row per undirected pair, either orientation)."""
    # base is referenced twice (both orientations) and e 2·(rounds+1)
    # times — MATERIALIZED stops DuckDB re-evaluating the (typically
    # expensive) candidate-pair subplan per reference, mirroring the
    # Spark side's pinned edge cache
    ctes = [f"base AS MATERIALIZED ({edges_sql})", f"""e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT s AS u, t AS v FROM base
            UNION SELECT t, s FROM base
        ) WHERE u != v
    )""", """s0 AS (SELECT DISTINCT u AS node FROM e)"""]
    prev = "s0"
    for i in range(1, int(rounds) + 1):
        ctes.append(f"""d{i} AS (
        SELECT e.u, CAST(COUNT(*) AS BIGINT) AS deg
        FROM e
        JOIN {prev} a ON a.node = e.u
        JOIN {prev} b ON b.node = e.v
        GROUP BY e.u
    )""")
        ctes.append(f"s{i} AS (SELECT u AS node FROM d{i} "
                    f"WHERE deg >= {int(k)})")
        prev = f"s{i}"
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT e.u AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e
    JOIN {prev} a ON a.node = e.u
    JOIN {prev} b ON b.node = e.v
    GROUP BY e.u
    """)


def kcore_peel_weighted(
    weights: DataFrame,
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """:func:`kcore_peel` on a NODE-WEIGHTED graph where each node
    stands for m structurally-identical vertices forming a clique
    (plus shared external edges) — the distinct-signature factoring of
    a duplicate-heavy similarity graph: every vertex behind node u has
    degree (m_u − 1) + Σ_{v ∈ N(u) ∩ surviving} m_v, identical for
    all m_u of them, so SYNCHRONIZED peeling removes whole nodes and
    the weighted peel runs EXACTLY the doc-level rounds without ever
    materializing the C(m,2) intra-clique pairs (the same argument
    that factors simhash_near_dup_pairs_factored; equality is
    property-tested).

    ``weights``: (node, m); ``edges``: one row per undirected distinct
    pair, either orientation.  Output: ``(node, m, deg)`` for
    surviving nodes — deg is each underlying vertex's degree inside
    the final core.
    """
    if not {"u", "v"} <= set(edges.columns):
        raise ValueError(
            "kcore_peel_weighted: edges must have columns (u, v), got "
            f"{edges.columns}")
    # round state (node, m, deg), as in kcore_peel: round 0 is the full
    # graph's degrees, each round peels deg < k and recomputes
    with _RoundDriver(symmetric_edges(edges, "u", "v"), "v") as rd:
        e = rd.edges

        def degrees(surv: DataFrame) -> DataFrame:
            # v-join first (pinned layout), u-join second: the u-side
            # sort-merge join leaves the relation u-partitioned so the
            # groupBy("u") adds no Exchange (same recipe as kcore_peel)
            nb = (e.join(surv.select(F.col("node").alias("v"),
                                     F.col("m").alias("__mv")), "v")
                  .join(surv.select(F.col("node").alias("u")), "u")
                  .groupBy("u").agg(F.sum("__mv").alias("__nbm")))
            return (surv.join(nb.withColumnRenamed("u", "node"),
                              "node", "left")
                    .select("node", "m",
                            (F.col("m") - 1 + F.coalesce(F.col("__nbm"),
                                                         F.lit(0)))
                            .cast("bigint").alias("deg")))

        def step(state: DataFrame, _: int) -> DataFrame:
            return degrees(state.where(F.col("deg") >= k)
                           .select("node", "m"))

        w = weights.select(F.col(weights.columns[0]).alias("node"),
                           F.col(weights.columns[1]).cast("bigint")
                           .alias("m"))
        return rd.run(degrees(w), step, int(rounds))
