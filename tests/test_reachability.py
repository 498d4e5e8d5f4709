"""Every package module and top-level definition must be reachable from a
program entry point.

The entry points are the jobs (``jobs/``), the tools (``tools/``), the
benchmark (``perfbench/``), the query registry (``__spark_entry__.py``)
and ``bench.py``. Code that only its own tests or ``examples/`` use is
dead weight. These tests walk the code statically (``ast``, no Spark)
from those seeds: first the import graph between modules, then the names
each reached definition uses. They name every package module, and every
top-level ``def``, ``class`` or assignment in a reached module, that the
walk never reaches. A job option is dead weight too when its job never
reads it. A last test keeps the other direction live: every script that
the Makefile, README.md or CLAUDE.md names must exist.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "incident_pii_redactor_spark"
SEED_DIRS = ("jobs", "tools", "perfbench")
SEED_FILES = ("__spark_entry__.py", "bench.py")

# sources.incidents is the reference's incident-record reader: no job
# reads incident JSONL, but tests/test_incidents.py and
# tests/test_reference_fixtures.py use it to check parity with the
# reference's outputs.
EXEMPT = {f"{PKG}.sources.incidents"}

# Top-level definitions in reached modules that no entry point uses but
# that stay, each for the reason given. They seed the definition walk.
EXEMPT_DEFS = {
    # synthetic page input for tests and `make submit-smoke`
    f"{PKG}.sources.pages.write_pages_parquet",
    # writes CDX test inputs
    f"{PKG}.sources.cdx.write_cdxj",
    # reference parity (COVERAGE.md A6)
    f"{PKG}.core.validate.recommendations",
    # reference parity (COVERAGE.md D8)
    f"{PKG}.core.detectors.context_window",
}

# Job options that no code reads but that stay, as (job, dest).
EXEMPT_OPTIONS = {
    # perfbench/run.py passes it to jobs/dedup.py, whose stage counts
    # ride each stage's one materialization and cost no extra job
    ("dedup.py", "no_stage_counts"),
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _package_modules() -> dict[str, str]:
    mods = {}
    for d, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                name = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def _seed_files() -> list[str]:
    seeds = [os.path.join(REPO, f) for f in SEED_FILES]
    for d in SEED_DIRS:
        seeds += [os.path.join(REPO, d, f)
                  for f in sorted(os.listdir(os.path.join(REPO, d)))
                  if f.endswith(".py")]
    return seeds


def _imports(path: str, mods: dict[str, str]) -> set[str]:
    """Package modules a file imports, with every parent package (the
    interpreter runs each ``__init__`` on the way down)."""
    names = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(m for m in (".".join(parts[:i])
                               for i in range(1, len(parts) + 1))
                   if m in mods)
    return out


def _reached_modules(mods: dict[str, str]) -> set[str]:
    stack = [m for s in _seed_files() for m in _imports(s, mods)]
    reached = set()
    while stack:
        m = stack.pop()
        if m not in reached:
            reached.add(m)
            stack.extend(_imports(mods[m], mods))
    return reached


def _names(node: ast.AST) -> set[str]:
    """Every name a piece of code may use: names, attributes, import
    aliases and identifier-shaped string constants (``getattr`` keys,
    registry tables)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            out.add(n.value)
    return out


def _definitions(tree: ast.Module) -> tuple[dict[str, list[ast.AST]],
                                            list[ast.AST]]:
    """A module's top-level definitions by name, and the rest of its
    top-level statements (code that runs on import)."""
    defs: dict[str, list[ast.AST]] = {}
    rest = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            targets = [stmt.name]
        elif isinstance(stmt, ast.Assign):
            targets = [n.id for t in stmt.targets for n in ast.walk(t)
                       if isinstance(n, ast.Name)]
        elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target,
                                                             ast.Name):
            targets = [stmt.target.id]
        else:
            targets = []
        targets = [t for t in targets
                   if not (t.startswith("__") and t.endswith("__"))]
        if targets:
            for t in targets:
                defs.setdefault(t, []).append(stmt)
        else:
            rest.append(stmt)
    return defs, rest


def test_every_package_module_is_reached():
    mods = _package_modules()
    reached = _reached_modules(mods)
    unreached = sorted(set(mods) - reached - EXEMPT)
    assert not unreached, (
        f"package modules no job, tool, registry query or bench path "
        f"imports: {unreached}")
    assert EXEMPT <= set(mods), "exempt module no longer exists"


def test_every_top_level_definition_is_reached():
    """A definition in a reached module is reached when a seed file, the
    import-time code of a reached module or the body of a reached
    definition names it. Names match across modules (a collision can only
    keep a definition, never flag one)."""
    mods = _package_modules()
    reached_mods = _reached_modules(mods)
    defs: dict[str, dict[str, list[ast.AST]]] = {}  # name -> module -> nodes
    names = set()
    for s in _seed_files():
        names |= _names(_parse(s))
    for m in sorted(reached_mods):
        mod_defs, rest = _definitions(_parse(mods[m]))
        for stmt in rest:
            names |= _names(stmt)
        for name, nodes in mod_defs.items():
            defs.setdefault(name, {})[m] = nodes

    def walk(names: set[str]) -> set[str]:
        stack, seen = list(names), set()
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            for nodes in defs.get(n, {}).values():
                for node in nodes:
                    stack.extend(_names(node) - seen)
        return seen

    reached = walk(names)
    exempt = {e.rpartition(".")[::2] for e in EXEMPT_DEFS}
    stale = sorted(f"{m}.{n}" for m, n in exempt
                   if m not in defs.get(n, {}) or n in reached)
    assert not stale, (
        f"drop from EXEMPT_DEFS (no longer defined or now reached): {stale}")
    reached = walk(reached | {n for _, n in exempt})
    unreached = sorted(f"{m}.{n}" for n, by_mod in defs.items()
                       if n not in reached for m in by_mod)
    assert not unreached, (
        f"top-level definitions no job, tool, registry query or bench "
        f"path uses: {unreached}")


def test_scripts_named_in_docs_exist():
    named = set()
    for doc in ("Makefile", "README.md", "CLAUDE.md"):
        with open(os.path.join(REPO, doc)) as f:
            named |= set(re.findall(r"\b(?:jobs|tools|perfbench)/\w+\.py",
                                    f.read()))
    missing = sorted(p for p in named
                     if not os.path.exists(os.path.join(REPO, p)))
    assert named and not missing, f"scripts named but missing: {missing}"


def _option_dest(call: ast.Call) -> str:
    """The ``args`` attribute argparse stores an ``add_argument`` in."""
    for kw in call.keywords:
        if kw.arg == "dest":
            return kw.value.value
    flags = [a.value for a in call.args if isinstance(a, ast.Constant)]
    flag = next((f for f in flags if f.startswith("--")), flags[0])
    return flag.lstrip("-").replace("-", "_")


def test_every_job_option_is_read():
    """Every option a job declares appears as ``args.<dest>`` in its own
    module: an option nothing reads is a fork no caller can reach."""
    unread = set()
    jobs_dir = os.path.join(REPO, "jobs")
    for f in sorted(os.listdir(jobs_dir)):
        if not f.endswith(".py"):
            continue
        dests, read = set(), set()
        for node in ast.walk(_parse(os.path.join(jobs_dir, f))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "add_argument"):
                dests.add(_option_dest(node))
            elif (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "args"):
                read.add(node.attr)
        unread |= {(f, d) for d in dests - read}
    dead = sorted(unread - EXEMPT_OPTIONS)
    stale = sorted(EXEMPT_OPTIONS - unread)
    assert not dead, f"job options their job never reads: {dead}"
    assert not stale, f"drop from EXEMPT_OPTIONS (now read or gone): {stale}"
