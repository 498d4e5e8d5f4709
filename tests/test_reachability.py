"""Every package module must be reachable from a program entry point.

The entry points are the jobs (``jobs/``), the tools (``tools/``), the
query registry (``__spark_entry__.py``) and ``bench.py``. A
module only its own tests or ``examples/`` import is dead weight: this
test walks the static import graph (``ast``, no Spark) from those seeds
and names every package module it never reaches.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "incident_pii_redactor_spark"
SEED_DIRS = ("jobs", "tools")
SEED_FILES = ("__spark_entry__.py", "bench.py")

# sources.incidents is the reference's incident-record reader: no job
# reads incident JSONL, but tests/test_incidents.py and
# tests/test_reference_fixtures.py use it to check parity with the
# reference's outputs.
EXEMPT = {f"{PKG}.sources.incidents"}

# Unreached modules kept with their own tests until a later change deletes
# them (ROADMAP "Open items"). The list only shrinks: a new unreached
# module still fails this test.
PENDING_DELETION = {
    f"{PKG}.core.judge_client",       # tests/test_judge_client.py
    f"{PKG}.operators.bucketing",     # test_bucketed_join_has_no_exchange
    f"{PKG}.sources.collector",       # tests/test_collector.py
}


def _package_modules() -> dict[str, str]:
    mods = {}
    for d, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                name = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def _imports(path: str, mods: dict[str, str]) -> set[str]:
    """Package modules a file imports, with every parent package (the
    interpreter runs each ``__init__`` on the way down)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
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


def test_every_package_module_is_reached():
    mods = _package_modules()
    seeds = [os.path.join(REPO, f) for f in SEED_FILES]
    for d in SEED_DIRS:
        seeds += [os.path.join(REPO, d, f)
                  for f in sorted(os.listdir(os.path.join(REPO, d)))
                  if f.endswith(".py")]
    stack = [m for s in seeds for m in _imports(s, mods)]
    reached = set()
    while stack:
        m = stack.pop()
        if m not in reached:
            reached.add(m)
            stack.extend(_imports(mods[m], mods))
    unreached = sorted(set(mods) - reached - EXEMPT - PENDING_DELETION)
    assert not unreached, (
        f"package modules no job, tool, registry query or bench path "
        f"imports: {unreached}")
    assert EXEMPT <= set(mods), "exempt module no longer exists"
    stale = sorted(PENDING_DELETION - (set(mods) - reached))
    assert not stale, f"drop from PENDING_DELETION (deleted or now reached): {stale}"
