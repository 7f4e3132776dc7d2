"""Plan inspection & assertion helpers.

"Would this plan survive a 100× scale-up?" is checkable: filters must reach
the parquet scan, dimension joins must broadcast, an applicative reduce must
cost exactly one shuffle.  These helpers read the executed plan so tests
can pin those properties — a perf regression then fails CI instead of
surfacing as a 10× slowdown at sf=full.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final physical plan string (post-AQE section only)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def initial_physical_plan(df: DataFrame) -> str:
    """Pre-AQE physical plan.  Use when AQE's runtime shortcuts (e.g. empty-
    relation propagation at tiny SF) hide the join strategies that would run
    on real data."""
    return df._jdf.queryExecution().sparkPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries in the final plan (broadcast exchanges
    excluded)."""
    p = executed_plan(df)
    return p.count("Exchange hashpartitioning") + p.count(
        "Exchange rangepartitioning"
    ) + p.count("Exchange SinglePartition")


def count_broadcast_joins(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")

def count_sortmerge_joins(df: DataFrame) -> int:
    return executed_plan(df).count("SortMergeJoin")


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the scan node reports a pushed filter mentioning `fragment`."""
    plan = executed_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def scan_columns(df: DataFrame) -> list[str]:
    """Columns actually read at the (first) parquet scan — column pruning
    check: a 2-column projection must not read 16 columns."""
    plan = executed_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            frag = line.split("ReadSchema:")[1]
            inner = frag[frag.find("<") + 1: frag.rfind(">")]
            return [f.split(":")[0] for f in inner.split(",") if ":" in f]
    return []


def count_cartesian_joins(df: DataFrame) -> int:
    """Cartesian/nested-loop joins in the final plan — the O(n²) smell.
    A dedup/similarity plan containing one does NOT survive a scale-up."""
    p = executed_plan(df)
    return p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin")


def uses_whole_stage_codegen(df: DataFrame) -> bool:
    # codegen'd operators render as "*(n) Op" in the plan string
    p = executed_plan(df)
    return "WholeStageCodegen" in p or "*(" in p


def _join_keys_of_line(s: str) -> list[list[str]]:
    """The bracketed key groups of a join node line — ``SortMergeJoin
    [a#1L], [b#2L], Inner`` → ``[['a#1L'], ['b#2L']]``."""
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return [[k.strip() for k in g.split(",") if k.strip()]
            for g in groups[:2]]


#: node names that make a shuffle side DERIVED — bucketing a stored table
#: cannot remove that Exchange, so such joins are not flagged
_DERIVING_NODES = (
    "HashAggregate", "ObjectHashAggregate", "SortAggregate", "Window",
    "Generate", "Expand", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "FlatMapGroupsInPandas", "MapInPandas",
    "MapInArrow", "ArrowEvalPython", "BatchEvalPython", "Union",
    "AggregateInPandas",
)


def _bucketable_shuffle_joins(plan: str) -> set[str]:
    """Join-key base names of every SortMergeJoin/ShuffledHashJoin where
    at least one side is a BARE TABLE SCAN behind a shuffle — an
    ``Exchange hashpartitioning`` whose subtree reaches ``Scan parquet``
    through projections/filters only.  That is exactly the shape
    :func:`~map_reduce_folds_spark.sources.write_bucketed` eliminates
    (scan → exchange → join becomes bucketed-scan → join); a side that
    aggregates/joins/explodes before shuffling is a derived relation no
    stored layout can pre-partition, and self-joins of derived frames
    (the dedup/LSH idiom) must not be flagged.  Parses the plan string's
    tree art: a node's depth is its tree-prefix length (children strictly
    deeper), which holds in both the pre-AQE and final-plan renderings."""
    lines = plan.splitlines()

    def prefix_len(ln: str) -> int:
        i = 0
        while i < len(ln) and ln[i] in " :+-":
            i += 1
        return i

    def node_text(ln: str) -> str:
        s = ln[prefix_len(ln):]
        # strip codegen stage marker "*(n) "
        if s.startswith("*("):
            s = s.split(") ", 1)[-1]
        return s

    def subtree(i: int) -> list[int]:
        d = prefix_len(lines[i])
        out = []
        for j in range(i + 1, len(lines)):
            if lines[j].strip() == "":
                break
            if prefix_len(lines[j]) <= d:
                break
            out.append(j)
        return out

    flagged: set[str] = set()
    for i, ln in enumerate(lines):
        t = node_text(ln)
        if not (t.startswith("SortMergeJoin")
                or t.startswith("ShuffledHashJoin")):
            continue
        groups = _join_keys_of_line(t)
        if len(groups) < 2:
            continue
        body = subtree(i)
        if not body:
            continue
        d_children = min(prefix_len(lines[j]) for j in body)
        sides, cur = [], []
        for j in body:
            if prefix_len(lines[j]) == d_children:
                if cur:
                    sides.append(cur)
                cur = [j]
            else:
                cur.append(j)
        if cur:
            sides.append(cur)
        for side in sides[:2]:
            texts = [node_text(lines[j]) for j in side]
            has_exchange = any(
                t2.startswith("Exchange hashpartitioning") or
                t2.startswith("ShuffleQueryStage") for t2 in texts)
            reaches_scan = any(t2.startswith("Scan parquet")
                               or t2.startswith("FileScan") for t2 in texts)
            derived = any(t2.startswith(nn) for t2 in texts
                          for nn in _DERIVING_NODES)
            if has_exchange and reaches_scan and not derived:
                flagged.update(k.split("#")[0]
                               for g in groups for k in g)
                break
    return flagged


def _bucketed_tables_on(spark, key_names: set[str]) -> list[str]:
    """Catalog tables whose bucket columns intersect ``key_names``
    (case-insensitive) — the available co-located layouts for a join on
    those keys.  Reads DESCRIBE EXTENDED (PySpark exposes no bucketSpec
    API); bounded to the current database's tables."""
    hits = []
    try:
        tables = spark.catalog.listTables()
    except Exception:  # noqa: BLE001 — no catalog (e.g. connect-lite)
        return hits
    want = {k.lower() for k in key_names}
    for t in tables[:200]:
        # backtick-quote (and qualify with the database when set): an
        # unquoted name needing backticks fails the DESCRIBE silently
        # via the broad except, hiding an existing bucketed layout
        qname = "`" + t.name.replace("`", "``") + "`"
        if getattr(t, "database", None):
            qname = "`" + t.database.replace("`", "``") + "`." + qname
        try:
            rows = spark.sql(
                f"DESCRIBE TABLE EXTENDED {qname}").collect()
        except Exception:  # noqa: BLE001 — view/temp without describe
            continue
        for r in rows:
            if r.col_name == "Bucket Columns":
                cols = {c.strip(" `").lower()
                        for c in r.data_type.strip("[]").split(",")}
                if cols & want:
                    hits.append(f"{t.name} (bucketed by "
                                f"{r.data_type.strip('[]')})")
                break
    return hits


def _jvm_children(node) -> list:
    out = []
    try:
        ch = node.children()
        out = [ch.apply(i) for i in range(ch.length())]
    except Exception:  # noqa: BLE001 — leaf / wrapper node
        pass
    if not out:
        # AQE wrappers expose their subtree as a method, not a child
        for meth in ("executedPlan", "finalPhysicalPlan", "plan"):
            try:
                sub = getattr(node, meth)()
                if sub is not None:
                    return [sub]
            except Exception:  # noqa: BLE001
                continue
    return out


def _subtree_has_join(node) -> bool:
    stack = [node]
    while stack:
        n = stack.pop()
        if "Join" in n.getClass().getSimpleName():
            return True
        stack.extend(_jvm_children(n))
    return False


#: HOF names worth naming in a finding (they all render as
#: ``lambdafunction(...)`` in the executed plan)
_HOF_FNS = ("aggregate", "zip_with", "transform", "filter", "exists",
            "forall", "map_zip_with", "array_sort", "reduce")


def hof_on_join_stream(df: DataFrame) -> list[str]:
    """Plan nodes that evaluate HIGHER-ORDER FUNCTIONS (zip_with /
    aggregate / transform / ... — anything Catalyst renders as
    ``lambdafunction``) over a JOIN-DERIVED stream — per-candidate
    interpreted arithmetic.  HOF lambdas never enter whole-stage codegen
    (each element application walks an interpreted expression tree), and
    dot-product-style chains cost ~dim interpreted ops per row.  On a
    BOUNDED relation (a scan, an aggregate output) that is a constant
    tax and often the right call (e.g. the broadcast-verify cosine,
    where shipping 2·dim doubles through Arrow measured SLOWER than the
    interpreted fold).  On a JOIN output the tax multiplies by the
    CANDIDATE count — the stream that grows fastest at 100 TB — so each
    such site deserves an explicit decision: a pre-join prefilter that
    shrinks the stream first (the inline_q8 int8 bound), an Arrow-batch
    rescore of survivors, or a measured acceptance.  Returns one finding
    per plan node: node class + the HOF names it evaluates."""
    hits: list[str] = []
    try:
        root = df._jdf.queryExecution().executedPlan()
    except Exception:  # noqa: BLE001
        return hits
    stack = [root]
    while stack:
        n = stack.pop()
        kids = _jvm_children(n)
        stack.extend(kids)
        try:
            s = n.simpleString(2000)
        except Exception:  # noqa: BLE001
            continue
        if "lambdafunction" not in s:
            continue
        cls = n.getClass().getSimpleName()

        def equi(name: str) -> bool:
            # only EQUI-joins feed candidate streams; the 1-row
            # broadcast scalar attach (crossJoin(broadcast(one_row)) →
            # BroadcastNestedLoopJoin) is this package's standard
            # bounded idiom, and a REAL cartesian is already flagged by
            # scale_audit's O(n²) rule — double-flagging it as a HOF
            # finding would drown the signal
            return ("Join" in name and "NestedLoop" not in name
                    and "Cartesian" not in name)

        def subtree_has_equijoin(node) -> bool:
            stack2 = [node]
            while stack2:
                m = stack2.pop()
                if equi(m.getClass().getSimpleName()):
                    return True
                stack2.extend(_jvm_children(m))
            return False

        # a Join node's own condition/keys run once per candidate pair;
        # any other node is per-candidate iff its input is join-derived
        if equi(cls) or any(subtree_has_equijoin(k) for k in kids):
            fns = sorted({f for f in _HOF_FNS if f + "(" in s})
            desc = f"{cls}[{', '.join(fns) or 'lambda'}]"
            if desc not in hits:
                hits.append(desc)
    return hits


def fat_sorts(df: DataFrame) -> list[str]:
    """Names of array/struct-typed columns that a SortExec sorts ON TOP
    OF A JOIN RESULT — the shape that killed the round-10 embedding
    verify at 100×: a sort-merge join's sort buffered the CANDIDATE
    stream with a ~0.5 KB vector payload per row (123M rows) and filled
    the disk.  A sort whose input is a base relation carrying arrays is
    bounded by the data and fine (the inline-verify bucket relation);
    a sort of a JOIN-DERIVED relation carrying arrays scales with the
    join output — restructure so wide payloads attach AFTER candidate
    generation (ids-only join + broadcast/bucketed payload attach).
    Walks the JVM executed plan for real attribute types (the plan
    string does not carry them)."""
    hits: list[str] = []
    try:
        root = df._jdf.queryExecution().executedPlan()
    except Exception:  # noqa: BLE001
        return hits

    stack = [root]
    while stack:
        n = stack.pop()
        kids = _jvm_children(n)
        stack.extend(kids)
        if n.getClass().getSimpleName() != "SortExec":
            continue
        try:
            o = n.output()
            wide = [o.apply(i).name() for i in range(o.length())
                    if o.apply(i).dataType().typeName()
                    in ("array", "struct", "map")]
        except Exception:  # noqa: BLE001
            continue
        if wide and any(_subtree_has_join(k) for k in kids):
            hits.extend(w for w in wide if w not in hits)
    return hits


def _has_unpartitioned_window(plan: str) -> bool:
    """True when any Window in the plan has an EMPTY partition spec — the
    single-task shape (every row in one partition, whether or not an
    ORDER BY then sorts it).

    Counting the operator's top-level ``[...]`` groups cannot distinguish
    the cases (both "partition only" and "order only" render 2 groups),
    so parse the ``windowspecdefinition(...)`` argument list instead: its
    pre-frame arguments are partition expressions (rendered bare)
    followed by order expressions (rendered with ``ASC``/``DESC`` +
    ``NULLS`` markers).  No bare pre-frame argument ⇒ no partition."""
    pos = 0
    while True:
        i = plan.find("windowspecdefinition(", pos)
        if i < 0:
            return False
        j = i + len("windowspecdefinition(")
        depth = 1
        args, cur = [], []
        while depth and j < len(plan):
            ch = plan[j]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    break
            if ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
            j += 1
        if cur:
            args.append("".join(cur).strip())
        pre = [a for a in args if not a.startswith("specifiedwindowframe")]
        has_partition = any(
            " ASC NULLS" not in a and " DESC NULLS" not in a for a in pre)
        if not has_partition:
            return True
        pos = j + 1


def scale_audit(df: DataFrame, max_shuffles: int | None = None) -> list[str]:
    """Lint a plan for the smells that kill a 100× scale-up.  Returns a
    list of human-readable findings (empty = clean); each names the smell
    and the fix this package provides.  Run it on any composed pipeline
    before promoting it to a big cluster — the same checks the test suite
    pins per-operator (test_plans), packaged as a user-facing audit:

    * cartesian / broadcast-nested-loop joins — O(n²): add an equi-key,
      bucketize (interval_join/overlap_join), or broadcast a small side;
    * global-order Window (empty PARTITION BY) — the whole dataset sorts
      in ONE task: use windows.ordered_prefix_sum / rank buckets;
    * row-at-a-time Python UDF (BatchEvalPython) — interpreter in the
      per-row path: use built-ins or an Arrow stage (mapInPandas);
    * no whole-stage codegen anywhere — interpreted expressions;
    * fact-fact SHUFFLE join (SortMergeJoin/ShuffledHashJoin whose keys
      feed an Exchange) — at 100 TB that reshuffles both fact tables on
      every run: if the catalog already has a table bucketed on the
      join key, read THAT (the join compiles Exchange-free); otherwise
      pay ``sources.write_bucketed`` once and join free forever
      (measured on q9: 8.38 s → 2.31 s at the 100× corpus, per-10×
      growth 7.43× → 1.97×, tools/bench_q9_bucketed.py);
    * sort of a join-derived relation carrying array/struct columns
      (:func:`fat_sorts`) — the sort buffer scales with join output ×
      payload width (the round-10 embedding-verify disk-filler): join
      ids only and attach wide payloads after candidate generation;
    * higher-order-function lambdas (zip_with/aggregate/transform) on a
      join-derived stream (:func:`hof_on_join_stream`) — interpreted
      per-CANDIDATE arithmetic outside codegen: prefilter the stream,
      Arrow-batch the survivors, or accept with a measurement;
    * more shuffles than ``max_shuffles`` (when given).
    """
    p = executed_plan(df)
    findings: list[str] = []
    n_cart = p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin")
    if n_cart:
        findings.append(
            f"{n_cart} cartesian/nested-loop join(s): O(n^2) pair "
            "generation — add an equi-key, bucketize the range condition "
            "(relational.interval_join/overlap_join), or broadcast an "
            "actually-small side")
    if _has_unpartitioned_window(p):
        findings.append(
            "global-order Window (no PARTITION BY): the whole "
            "dataset sorts in one task — use "
            "windows.ordered_prefix_sum / bucketed ranks")
    if "BatchEvalPython" in p:
        findings.append(
            "row-at-a-time Python UDF (BatchEvalPython): ~10-100x slower "
            "than Arrow — use pyspark.sql.functions or mapInPandas")
    wide = fat_sorts(df)
    if wide:
        findings.append(
            f"sort of a JOIN-DERIVED relation carrying wide column(s) "
            f"({', '.join(wide)}): the sort buffer scales with the join "
            "output times the payload width — the shape that filled the "
            "disk at the 100x embedding rehearsal. Join ids only, then "
            "attach the payload after candidate generation (broadcast / "
            "bucketed attach), or carry it on the bounded input relation")
    hof = hof_on_join_stream(df)
    if hof:
        findings.append(
            f"higher-order-function arithmetic on a JOIN-DERIVED stream "
            f"({'; '.join(hof)}): lambda chains run interpreted, outside "
            "whole-stage codegen, once per CANDIDATE pair — fine on a "
            "bounded relation, a real tax on the stream that grows "
            "fastest at scale. Shrink the stream first (a cheap pre-join "
            "prefilter like the int8 cosine bound), Arrow-batch the "
            "survivor rescore, or record a measured acceptance")
    shuffled_keys = _bucketable_shuffle_joins(p)
    if shuffled_keys:
        layouts = _bucketed_tables_on(df.sparkSession, shuffled_keys)
        keys = ", ".join(sorted(shuffled_keys))
        if layouts:
            findings.append(
                f"fact-fact shuffle join on ({keys}) while a bucketed "
                f"layout exists: {'; '.join(layouts)} — read the bucketed "
                "table(s) (spark.table) so the join compiles with no "
                "Exchange (q9 measured: 3.6x at the 100x corpus)")
        else:
            findings.append(
                f"fact-fact shuffle join on ({keys}): both sides "
                "reshuffle on every run — write each side once with "
                "sources.write_bucketed(df, table, ['" +
                sorted(shuffled_keys)[0] + "'], ...) and the join "
                "compiles Exchange-free thereafter (q9 measured: "
                "7.43x -> 1.97x per-10x growth)")
    if not ("WholeStageCodegen" in p or "*(" in p):
        # an UNEXECUTED AdaptiveSparkPlan prints no codegen markers at
        # all (CollapseCodegenStages wraps stages only as AQE finalizes
        # them), so on isFinalPlan=false the rule has no evidence either
        # way — flagging there was a false positive on EVERY pre-run
        # audit (caught round-13 session 5 auditing plans before their
        # first action).  Materialize first (df.collect()) for a real
        # codegen verdict.
        if "isFinalPlan=false" in p:
            findings.append(
                "codegen rule skipped: plan not yet finalized by AQE "
                "(isFinalPlan=false) — run the query once (e.g. "
                "df.collect()) and re-audit for a whole-stage-codegen "
                "verdict")
        else:
            findings.append(
                "no whole-stage codegen in the plan: expressions run "
                "interpreted — prefer built-in functions over HOF-heavy "
                "or UDF expressions in the hot path")
    if max_shuffles is not None:
        n = count_exchanges(df)
        if n > max_shuffles:
            findings.append(
                f"{n} shuffle Exchanges (budget {max_shuffles}): look for "
                "a missing broadcast hint, a re-derived lineage that a "
                "materialize boundary would cut, or bucketed tables for "
                "repeated co-located joins")
    return findings
