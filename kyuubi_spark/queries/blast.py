"""Automated blast radius for the driver's rotating correctness window.

The registry's window rotation promotes queries ADDED or CHANGED this
round to the head of the next driver window (queries/__init__.py).  The
hand-maintained ``_CHANGED_THIS_ROUND`` set only covers queries the
builder *remembered* to list; a change to a SHARED helper (e.g.
functions/similarity.py, a pipeline CTE) silently leaves its dependent
queries in rotation order.  This module derives the set mechanically:

    git diff since the last round boundary  ->  changed kyuubi_spark
    modules  ->  reverse transitive closure over the package's import
    graph  ->  every registry query whose builder lives in an affected
    module.

``tools/roundcheck.py`` runs ``python -m kyuubi_spark.queries.blast
--check`` each round and FAILS if any affected query would miss the
next driver window head.

Reference analog: the reference's CI triggers module test suites from
changed-path filters (.github/workflows/master.yml path matrices); this
is the same idea applied to the oracle registry.
"""

from __future__ import annotations

import ast
import functools
import os
import subprocess

ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
PKG_DIR = os.path.join(ROOT, "kyuubi_spark")
# the driver verifies exactly this many registry entries per round
DRIVER_WINDOW = 50
# registry plumbing, not query semantics: editing the rotation list or
# QuerySpec would otherwise flood the whole registry into the window
# (and a genuine plumbing break fails every pytest oracle check anyway)
_EXCLUDE = {"kyuubi_spark.queries", "kyuubi_spark.queries.blast",
            "kyuubi_spark"}


def _run_git(args: list[str]) -> str | None:
    try:
        proc = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return proc.stdout if proc.returncode == 0 else None


def round_base_commit() -> str | None:
    """Most recent driver round-boundary commit ('round N: ...')."""
    out = _run_git(
        ["log", "-E", "--grep", r"^round [0-9]+:", "-n", "1",
         "--format=%H"]
    )
    out = (out or "").strip()
    return out or None


def _module_of(relpath: str) -> str | None:
    if not relpath.endswith(".py") or not relpath.startswith("kyuubi_spark/"):
        return None
    mod = relpath[: -len(".py")].replace("/", ".")
    if mod.endswith(".__init__"):
        mod = mod[: -len(".__init__")]
    return mod


def changed_modules(base: str) -> set[str]:
    """kyuubi_spark modules touched since ``base`` (committed AND
    working-tree edits, plus untracked new modules)."""
    files: set[str] = set()
    diff = _run_git(["diff", "--name-only", base, "--", "kyuubi_spark"])
    if diff is not None:
        files.update(ln.strip() for ln in diff.splitlines() if ln.strip())
    untracked = _run_git(
        ["ls-files", "--others", "--exclude-standard", "kyuubi_spark"]
    )
    if untracked is not None:
        files.update(
            ln.strip() for ln in untracked.splitlines() if ln.strip()
        )
    mods = {_module_of(f) for f in files}
    return {m for m in mods if m and m not in _EXCLUDE}


def _iter_package_modules() -> dict[str, str]:
    """module name -> absolute path for every .py under kyuubi_spark/."""
    out: dict[str, str] = {}
    for dirpath, _dirs, names in os.walk(PKG_DIR):
        for n in names:
            if not n.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, n), ROOT)
            mod = _module_of(rel.replace(os.sep, "/"))
            if mod:
                out[mod] = os.path.join(dirpath, n)
    return out


@functools.cache
def import_graph() -> dict[str, set[str]]:
    """module -> set of kyuubi_spark modules it imports (static AST).

    Parsed once per process (~1.4 s over the whole package): every
    ``all_queries()`` call ranks the registry by the blast radius, and
    the sources do not change under a running process.  Callers must
    not mutate the result."""
    modules = _iter_package_modules()
    known = set(modules)
    graph: dict[str, set[str]] = {}
    for mod, path in modules.items():
        deps: set[str] = set()
        try:
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
        except (OSError, SyntaxError):
            graph[mod] = deps
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith("kyuubi_spark"):
                        deps.add(alias.name)
            elif isinstance(node, ast.ImportFrom) and node.module:
                if not node.module.startswith("kyuubi_spark"):
                    continue
                for alias in node.names:
                    sub = f"{node.module}.{alias.name}"
                    deps.add(sub if sub in known else node.module)
        graph[mod] = deps & known
    return graph


def affected_closure(changed: set[str], graph: dict[str, set[str]]) -> set[str]:
    """Changed modules plus every module that (transitively) imports one.

    _EXCLUDE hubs are NON-PROPAGATING: every query module imports the
    registry package (``from kyuubi_spark.queries import query``) whose
    __init__ imports every registrar for side effects — conducting
    through that hub would mark the whole registry affected on any
    change.  Those imports are registration plumbing, not semantic
    dependencies of individual queries."""
    graph = {
        mod: deps - _EXCLUDE
        for mod, deps in graph.items()
        if mod not in _EXCLUDE
    }
    affected = set(changed)
    grew = True
    while grew:
        grew = False
        for mod, deps in graph.items():
            if mod not in affected and deps & affected:
                affected.add(mod)
                grew = True
    return affected


def git_blast_radius(registry: dict | None = None) -> set[str]:
    """Registry names whose builder module is in the blast radius of any
    kyuubi_spark change since the last round boundary.  Empty set when
    git/the boundary is unavailable (the hand-set still applies)."""
    base = round_base_commit()
    if base is None:
        return set()
    changed = changed_modules(base)
    if not changed:
        return set()
    affected = affected_closure(changed, import_graph())
    if registry is None:
        from kyuubi_spark.queries import REGISTRY, all_queries

        all_queries()  # populate via registrar side effects
        registry = REGISTRY
    return {
        name
        for name, spec in registry.items()
        if getattr(spec.builder, "__module__", None) in affected
    }


def _check() -> int:
    """roundcheck stage: every blast-radius query must sit inside the
    next driver window head (window grows to hold them all when the
    radius exceeds 50 — they sort ahead of everything either way)."""
    from kyuubi_spark.queries import all_queries

    order = list(all_queries())
    affected = git_blast_radius()
    head = set(order[: max(DRIVER_WINDOW, len(affected))])
    missing = sorted(affected - head)
    print(
        f"blast radius: {len(affected)} dependent queries since "
        f"{(round_base_commit() or 'HEAD')[:9]}"
    )
    if affected:
        print("  " + ", ".join(sorted(affected)))
    if missing:
        print(
            "FAIL: dependent queries absent from the next driver window "
            f"head: {', '.join(missing)}"
        )
        return 1
    print("OK: all dependent queries are inside the next driver window")
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(_check() if "--check" in sys.argv else _check())
