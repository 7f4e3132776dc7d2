"""Every top-level definition of the package is reached or kept on purpose.

AST only, no Spark.  The roots are what runs without a test asking for
it: every ``@query`` function, the module-level code of every package
module (oracles, default arguments, decorators, registrations), the
package's lazy ``_EXPORTS``, the benchmark and tool scripts, and the
``KEPT`` entries below.  Reach is transitive across modules and follows
names, attributes and imports, never text: a name in a docstring or a
call from an unreached function does not count, so a function that only
its own tests call fails here, and so does a private helper whose last
caller was deleted.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "map_reduce_folds_spark"

#: "module.name" (relative to the package) -> why it stays unreached
KEPT = {
    # the paper's fold vocabulary (SURVEY §2.6)
    "folds.mean_": "paper fold vocabulary",
    "folds.count_col": "paper fold vocabulary",
    "folds.variance": "paper fold vocabulary",
    "folds.stddev": "paper fold vocabulary",
    "folds.first_": "paper fold vocabulary",
    "folds.last_": "paper fold vocabulary",
    # sources, sinks and set ops (SURVEY §7.2 step 5)
    "sources.read_parquet": "source/sink surface",
    "sources.read_csv": "source/sink surface",
    "sources.read_json": "source/sink surface",
    "sources.read_orc": "source/sink surface",
    "sources.write_parquet": "source/sink surface",
    "sources.write_csv": "source/sink surface",
    "sources.write_json": "source/sink surface",
    "sources.write_orc": "source/sink surface",
    "operators.relational.union_all": "set-op surface",
    # plan instruments that tests assert with
    "plans.initial_physical_plan": "plan instrument",
    "plans.count_broadcast_joins": "plan instrument",
    "plans.count_sortmerge_joins": "plan instrument",
    "plans.count_cartesian_joins": "plan instrument",
    "plans.has_pushed_filter": "plan instrument",
    "plans.scan_columns": "plan instrument",
    "plans.uses_whole_stage_codegen": "plan instrument",
    "plans.hof_on_join_stream": "plan instrument",
    "plans.fat_sorts": "plan instrument",
    "plans.scale_audit": "plan instrument",
    # streaming entry points and runtime test subjects
    "streaming.stream_mapreduce": "windowed streaming entry point",
    "streaming.stateful_fold": "custom-fold streaming entry point",
    "streaming.stream_scd2": "the per-key runtime's multi-row emission test",
    "streaming.stream_holtwinters": "the per-key runtime's list-state test",
    # exact references that tests compare a scaled form against
    "operators.dedup.minhash_signature": "reference for minhash_band_rows",
    "operators.dedup.band_hashes": "reference for minhash_band_rows",
    "operators.dedup.shingle_containment_pairs":
        "reference for shingle_containment_pairs_factored",
    "operators.dedup.simhash_near_dup_pairs":
        "reference for simhash_near_dup_pairs_factored",
    "operators.graph.kcore_peel": "reference for kcore_peel_weighted",
    "operators.graph.triangle_count":
        "reference for simhash_triangle_count_factored",
    "operators.windows.group_percentiles_nearest_rank":
        "reference for group_percentiles_hist",
    "operators.similarity.embedding_near_dup_pairs":
        "exact baseline of the LSH near-dup pairs",
    "operators.similarity.dequantize_int8":
        "round-trip bound on quantize_int8",
    # examples/demo.py
    "operators.graph.dedup_by_components": "used by examples/demo.py",
}


def _module(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT / PKG).with_suffix("").parts
    return ".".join(p for p in parts if p != "__init__")


def _refs(node):
    """(is_bare_name, name) for every name, attribute and import in node."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield True, n.id
        elif isinstance(n, ast.Attribute):
            yield False, n.attr
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                yield False, a.name.rsplit(".", 1)[-1]


def _is_query(deco) -> bool:
    f = deco.func if isinstance(deco, ast.Call) else deco
    return isinstance(f, ast.Name) and f.id == "query"


def test_every_definition_is_reached_or_kept():
    defs: dict[tuple[str, str], ast.AST] = {}
    by_name: dict[str, set[tuple[str, str]]] = {}
    roots: list[tuple[str | None, ast.AST]] = []
    exported: list[str] = []
    seeds: set[tuple[str, str]] = set()
    for path in sorted((ROOT / PKG).rglob("*.py")):
        mod = _module(path)
        for n in ast.parse(path.read_text()).body:
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                roots.append((mod, n))
                if (isinstance(n, ast.Assign)
                        and isinstance(n.value, ast.Dict)
                        and any(getattr(t, "id", None) == "_EXPORTS"
                                for t in n.targets)):
                    exported += [k.value for k in n.value.keys]
                continue
            # decorators, defaults and base classes run at import
            heads = list(n.decorator_list)
            if isinstance(n, ast.ClassDef):
                heads += n.bases + [k.value for k in n.keywords]
            else:
                heads += n.args.defaults + [
                    d for d in n.args.kw_defaults if d is not None]
            roots += [(mod, h) for h in heads]
            if n.name.startswith("__") and n.name.endswith("__"):
                continue
            defs[(mod, n.name)] = n
            by_name.setdefault(n.name, set()).add((mod, n.name))
            if any(_is_query(d) for d in n.decorator_list):
                seeds.add((mod, n.name))
    scripts = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
               *sorted((ROOT / "perfbench").rglob("*.py")),
               *sorted((ROOT / "tools").rglob("*.py"))]
    roots += [(None, ast.parse(p.read_text())) for p in scripts]
    stale = sorted(k for k in KEPT if tuple(k.rsplit(".", 1)) not in defs)
    assert not stale, f"kept entries that name no definition: {stale}"
    seeds |= {tuple(k.rsplit(".", 1)) for k in KEPT}
    seeds |= {d for name in exported for d in by_name.get(name, ())}

    def resolve(mod, node):
        for bare, name in _refs(node):
            # a bare name means this module's own definition when it has
            # one; anything else may come from any module
            if bare and (mod, name) in defs:
                yield (mod, name)
            else:
                yield from by_name.get(name, ())

    todo = [*seeds, *(d for mod, node in roots for d in resolve(mod, node))]
    reached: set[tuple[str, str]] = set()
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo += resolve(key[0], defs[key])
    unreached = sorted(f"{m}.{n}" if m else n
                       for m, n in defs.keys() - reached)
    assert not unreached, f"unreached and not kept: {unreached}"
