"""Keep-list guard: the package is the KG system's import closure plus a
fixed list of non-KG modules, and the two do not mix.

The closure is computed from the AST of each module (function-local
imports included) starting at the seed modules below; importing a module
also imports every ``__init__`` on its package path. No Spark is started.

``NON_KG`` lists the modules that no pipeline stage, KG read, perfbench
path or pipeline script imports (the LLM-data, sketch, web-graph and
text-analytics families). They stay only for their driver queries and
tests, and can be deleted as one set without touching KG code.

* A module added to the package that is in neither set fails
  ``test_package_is_the_closure_plus_non_kg`` — make a seed use it or
  list it as non-KG.
* A KG module that starts importing a non-KG one pulls it into the
  closure and fails the same test.
* A package module outside the closure imported by ``bench.py``,
  ``perfbench/run.py`` or a KG script fails
  ``test_entry_points_import_only_the_closure``.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "metal_history_knowledge_graph_spark"

# The KG system: the pipeline, its read side, the ingest path, and three
# operators kept for a stated reason — graph_algos (kg_components,
# kg_pagerank, kg_betweenness, kg_path_analysis), dedup (the exact PPJoin
# for entity-merge candidates) and textstats (used by dedup).
SEEDS = (
    "plans.pipeline",
    "plans.queries",
    "plans.quality",
    "operators.validate",
    "operators.embeddings",
    "operators.simsearch",
    "operators.intent",
    "operators.monitor",
    "operators.graph_algos",
    "operators.dedup",
    "operators.textstats",
    "sources.warc",
    "sources.corpus",
    "streaming.incremental",
    "session",
    "io",
)

NON_KG = frozenset(
    ["plans.export", "plans.webtext"]
    + [
        f"operators.{m}"
        for m in (
            "ams anomaly bitext bloom bm25 bpe calibration changepoint "
            "cluster_eval cms contamination dates diversity dsir fuse "
            "fuzzy_join heavy_hitters hll keywords kmv linkeval links "
            "lm_score locations markov markup mis multimodal ngram_lm "
            "normalize packing pagemeta phrase pq profile qdigest "
            "quality_clf quantiles sampling scrub semdedup shard skew spans "
            "structured suffix temporal textrank trends urlnorm vocab walks "
            "waterfill webgraph winnow zorder"
        ).split()
    ]
)

# Scaling scripts of the non-KG families; every other script is KG.
NON_KG_SCRIPTS = frozenset(
    f"scripts/bench_{s}.py"
    for s in ("fuzzy_scaling", "kn_scaling", "spans_scaling",
              "suffix_scaling", "stream_neardup")
)

ENTRY_FILES = ("bench.py", "perfbench/run.py")


def _module_path(mod):
    """File of dotted module ``mod`` (package-qualified), or None."""
    base = ROOT.joinpath(*mod.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _with_parents(mod):
    """``mod`` plus every enclosing package (their ``__init__`` runs too)."""
    parts = mod.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def _imports(path, mod=None):
    """Package modules imported anywhere in ``path``. ``mod`` is the dotted
    name of ``path`` when it lives inside the package (for relative
    imports)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                target = ".".join(parts + ([node.module] if node.module else []))
            else:
                target = node.module
            names = [target] + [f"{target}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name and name.split(".")[0] == PKG and _module_path(name):
                found |= _with_parents(name)
    return found


def closure():
    todo = set()
    for s in SEEDS:
        todo |= _with_parents(f"{PKG}.{s}")
    seen = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo |= _imports(_module_path(mod), mod) - seen
    return seen


def package_modules():
    mods = set()
    for p in (ROOT / PKG).rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods.add(".".join(parts))
    return mods


def test_package_is_the_closure_plus_non_kg():
    assert all(_module_path(f"{PKG}.{s}") for s in SEEDS)
    non_kg = {f"{PKG}.{m}" for m in NON_KG}
    assert len(non_kg) == 58
    kg = closure()
    assert kg & non_kg == set()
    assert kg | non_kg == package_modules()


def test_entry_points_import_only_the_closure():
    kept = closure()
    scripts = [
        p for p in sorted((ROOT / "scripts").glob("*.py"))
        if p.relative_to(ROOT).as_posix() not in NON_KG_SCRIPTS
    ]
    files = [ROOT / f for f in ENTRY_FILES] + scripts
    outside = {}
    for f in files:
        extra = _imports(f) - kept
        if extra:
            outside[f.relative_to(ROOT).as_posix()] = sorted(extra)
    assert outside == {}
