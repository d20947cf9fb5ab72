"""Strict audit: any float column whose Spark and DuckDB values differ
AT ALL (bitwise, after canonical sort) is a driver hash-fail risk.

--changed [GITREF] (r5 verdict item 7): map a git diff (working tree
vs GITREF, default HEAD) to the affected registry queries and
re-verify exactly that subset at the x10 staging — so a per-commit CI
run exercises a change at scale without paying the ~2h full sweep.
The mapping is the TRANSITIVE-IMPORT closure (r6 advice): a query is
affected when its defining module imports the changed module directly
or transitively (ast scan of every ``scache_spark`` import, absolute
and relative), so oracle fragments and helpers that cross module
boundaries (e.g. pipeline.py embedding dedup.py's _SHINGLE_SQL) pull
their consumers in.  A changed module reached by NO query module
(session, catalog) falls back to the scale_stress DEFAULT_QUERIES
pool, disclosed in the artifact.  Writes CHANGED_AUDIT_x10.json.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import numpy as np

from scache_spark.registry import REGISTRY, _ensure_loaded
from scache_spark.session import get_session
from tests.conftest import canonicalize, oracle_con

_ensure_loaded()


# registry._ensure_loaded imports EVERY operator module purely to
# trigger @register side effects; following those edges would make
# every module reach every other through the loader.  Registry is a
# graph sink: modules that import it are affected by a registry
# change, but its own loader imports carry no semantic dependence.
_GRAPH_SINKS = {"scache_spark.registry"}


def _module_import_graph() -> dict[str, set[str]]:
    """module -> the scache_spark modules it imports (static ast scan
    over the package; absolute and relative imports both resolved,
    module-body and function-local alike — consumers lazily import
    dedup helpers inside query fns)."""
    import ast

    root = REPO
    pkg = "scache_spark"
    graph: dict[str, set[str]] = {}
    for dirpath, _dirs, fnames in os.walk(os.path.join(root, pkg)):
        if "__pycache__" in dirpath:
            continue
        for fn in fnames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
            if rel.endswith(".__init__"):
                rel = rel[: -len(".__init__")]
            deps: set[str] = set()
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name.startswith(pkg):
                            deps.add(a.name)
                elif isinstance(node, ast.ImportFrom):
                    mod = node.module or ""
                    if node.level:
                        parts = rel.split(".")
                        parts = parts[: len(parts) - node.level]
                        mod = ".".join(parts + ([mod] if mod else []))
                    if mod.startswith(pkg):
                        deps.add(mod)
                        # "from scache_spark.operators import dedup"
                        # imports modules by name; non-module names are
                        # harmless extra graph nodes with no out-edges
                        for a in node.names:
                            deps.add(f"{mod}.{a.name}")
            graph[rel] = set() if rel in _GRAPH_SINKS else deps
    return graph


def _transitive_imports(mod: str, graph: dict[str, set[str]]) -> set[str]:
    seen: set[str] = set()
    stack = [mod]
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        stack.extend(graph.get(m, ()))
    return seen


def _changed_mode(ref: str) -> None:
    import json
    import subprocess

    from tests.conftest import check_queries
    from tools.scale_stress import DEFAULT_QUERIES, REST_EXCLUDE, stage

    files = subprocess.run(
        ["git", "diff", "--name-only", ref],
        capture_output=True, text=True, cwd=REPO, check=True,
    ).stdout.split()
    graph = _module_import_graph()
    # query name -> every scache_spark module its defining module
    # reaches (incl. itself): changing ANY of those re-verifies it
    reach: dict[str, set[str]] = {}
    closures: dict[str, set[str]] = {}
    for name, spec in REGISTRY.items():
        d = spec.fn.__module__
        if d not in closures:
            closures[d] = _transitive_imports(d, graph)
        reach[name] = closures[d]
    affected: set[str] = set()
    engine_wide: list[str] = []
    for f in files:
        if not (f.endswith(".py") and f.startswith("scache_spark/")):
            continue
        mod = f[:-3].replace("/", ".")
        if mod.endswith(".__init__"):
            mod = mod[: -len(".__init__")]
        hit = {n for n, mods in reach.items() if mod in mods}
        if hit:
            affected.update(hit)
        else:
            engine_wide.append(f)
    if engine_wide:
        # a shared-engine change can affect any plan: fall back to the
        # scale-constants pool rather than guessing a narrower set
        affected.update(DEFAULT_QUERIES)
    skipped = sorted(affected & REST_EXCLUDE)  # separately x10-verified
    names = sorted(
        n for n in affected
        if n not in REST_EXCLUDE and REGISTRY[n].oracle is not None
    )
    rows_only = sorted(
        n for n in affected if REGISTRY[n].oracle is None
    )
    out: dict = {
        "ref": ref,
        "mapping": "transitive-import closure (ast scan of "
        "scache_spark imports, absolute+relative); unreached "
        "changed modules fall back to DEFAULT_QUERIES",
        "changed_files": files,
        "engine_wide_files": engine_wide,
        "skipped_rest_excluded": skipped,
        "skipped_no_oracle": rows_only,
    }
    if not names:
        out.update({"n_queries": 0, "n_fail": 0, "queries": {}})
        print("no registry queries affected by this diff")
    else:
        print(f"{len(names)} affected queries; staging x10 ...", flush=True)
        sf_dir = stage("/root/testdata/sf0.1", 10)
        spark = get_session("changed-audit")
        results = check_queries(spark, sf_dir, names)
        out.update({
            "n_queries": len(results),
            "n_fail": sum(1 for r in results.values() if r["status"] == "FAIL"),
            "queries": results,
        })
    path = os.path.join(REPO, "CHANGED_AUDIT_x10.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")
    sys.exit(1 if out["n_fail"] else 0)


if "--changed" in sys.argv:
    _args = [a for a in sys.argv[1:] if a != "--changed"]
    _changed_mode(_args[0] if _args else "HEAD")

SF = "/root/testdata/sf0.01"
spark = get_session("strict-audit")
con = oracle_con(SF)

# optional scoping: `python tools/strict_audit.py [substring ...]` audits
# only queries whose name contains any given substring (a full sweep
# takes several minutes; scoped runs gate individual changes)
_filters = [a for a in sys.argv[1:] if not a.startswith("-")]

risky = []
for name, spec in sorted(REGISTRY.items()):
    if spec.oracle is None:
        continue
    if _filters and not any(f in name for f in _filters):
        continue
    try:
        s = canonicalize(spec.fn(spark, SF).toPandas())
        o = canonicalize(con.execute(spec.oracle).df())
        if len(s) != len(o) or list(s.columns) != list(o.columns):
            risky.append((name, "SHAPE", ""))
            continue
        for col in s.columns:
            sv, ov = s[col].to_numpy(), o[col].to_numpy()
            if np.issubdtype(sv.dtype, np.floating) and np.issubdtype(ov.dtype, np.floating):
                a, b = np.nan_to_num(sv, nan=-1e308), np.nan_to_num(ov, nan=-1e308)
                if not np.array_equal(a, b):
                    d = np.max(np.abs(a - b))
                    risky.append((name, col, f"maxdiff={d:.3e}"))
            elif str(sv.dtype) != str(ov.dtype):
                # datetime unit (ns vs us) and datetime-vs-object are
                # normalized by the driver (r01 evidence:
                # filter_project_cast passed with object vs datetime64);
                # flag everything else (e.g. int32 vs int64)
                kinds = {str(sv.dtype), str(ov.dtype)}
                if not any("datetime" in k for k in kinds):
                    risky.append((name, col, f"dtype {sv.dtype} vs {ov.dtype}"))
    except Exception as e:
        risky.append((name, "ERROR", str(e)[:120]))

if risky:
    for r in risky:
        print("RISK", *r)
else:
    print("ALL BIT-EXACT")
