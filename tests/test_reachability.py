"""Every top-level definition in ``kg/`` is reached by something other than tests.

No Spark. An AST name closure starts from the entry points (``run_pipeline.py``,
``__spark_entry__.py``, ``bench.py``, ``bench_scaling.py``, ``perfbench/*.py``,
``BENCH/*.py``) and from the statements each ``kg`` module runs on import.
Names, attribute names and identifier-like string constants count as
references; the strings cover code that looks a name up at run time, such as
``perfbench/spans.py`` wrapping methods by name. A definition is reached when
its name is referenced by a root or by the body of a reached definition.
Names are matched without their module, so the closure over-approximates what
is reached: nothing outside tests reaches a definition it reports by name.

A definition that only tests reach is deleted with its tests, or it goes into
``ALLOWED`` with the reason a remaining test needs it.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

ROOTS = ("run_pipeline.py", "__spark_entry__.py", "bench.py", "bench_scaling.py",
         "perfbench/*.py", "BENCH/*.py")

ALLOWED = {
    "__all__": "module export list, read by `from kg... import *`",
    "__version__": "package metadata",
    "temperature_targets": "reference that tests/test_plans.py checks "
                           "mixture_weights_temperature against",
    "minhash_near_dup_ml": "cross-check for banded MinHash in tests/test_ops.py",
    "verify_extraction": "byte-identity audit in tests/test_mentions_spark.py",
    "reload_backends": "model reload behaviour (O18) pinned by tests/test_backends.py",
    "register_backend": "model reload behaviour (O18) pinned by tests/test_backends.py",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign,
         ast.AnnAssign)


def _refs(node):
    """Names, attribute names and identifier-like strings under ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _targets(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def kg_definitions():
    """({name: [(file, line)]}, {name: refs of its bodies}, refs run on import)."""
    where, body_refs, on_import = {}, {}, set()
    for path in sorted((ROOT / "kg").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text(), rel).body:
            if not isinstance(stmt, _DEFS):
                on_import |= _refs(stmt)
                continue
            for name in _targets(stmt):
                where.setdefault(name, []).append((rel, stmt.lineno))
                if name != "__all__":
                    body_refs.setdefault(name, set()).update(_refs(stmt))
    return where, body_refs, on_import


def unreached():
    """Sorted ``(file, line, name)`` of kg definitions no root reaches."""
    where, body_refs, frontier = kg_definitions()
    for pattern in ROOTS:
        for path in sorted(ROOT.glob(pattern)):
            frontier |= _refs(ast.parse(path.read_text(), str(path)))
    reached = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        frontier |= body_refs.get(name, set()) - reached
    return sorted((f, line, name) for name, sites in where.items()
                  if name not in reached for f, line in sites)


def test_every_kg_definition_is_reached_outside_tests():
    dead = [f"{f}:{line} {name}" for f, line, name in unreached()
            if name not in ALLOWED]
    assert not dead, ("reached only by tests or by nothing; delete them with "
                      "their tests, or allow them with a reason:\n  "
                      + "\n  ".join(dead))


def test_allowlist_names_only_unreached_definitions():
    where, _, _ = kg_definitions()
    dead = {name for _, _, name in unreached()}
    stale = sorted(n for n in ALLOWED if n not in where or n not in dead)
    assert not stale, f"allowlisted but reached or undefined: {stale}"
