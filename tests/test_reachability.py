"""No package function survives on its own tests alone.

An AST scan, run to a fixed point, collects every name the product
reaches: the registered ``@query`` builders, module-level package code,
``tools/``, ``perfbench/``, the repo-root scripts and README. A package
top-level def is reached when one of those references it, or when a
reached def does. References are Name, Attribute and import nodes, so a
docstring or comment that mentions a function does not keep it alive.
Matching is by name, which can only over-count what is reached.

Pure Python: no Spark session, under a second.
"""

from __future__ import annotations

import ast
import functools
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark"

#: Reached only by tests, kept on purpose. Each entry needs its reason.
KEEP = {
    "lsh_bucket_expr": "reference twin the LSH bucket tests compare against",
    "rate_events_batch_twin": "batch twin the rate-stream test compares against",
    "observe_stage": "the Observation counter building block for run reports",
    "write_zordered": "writes the files for the zorder_key_orders locality pin",
}


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


@functools.cache
def _scan() -> tuple[dict[str, list[str]], set[str]]:
    """(package def name -> its 'module:line' sites, reached names)."""
    defs: dict[str, list[ast.AST]] = {}
    sites: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append(st)
                sites.setdefault(st.name, []).append(
                    f"{path.relative_to(ROOT)}:{st.lineno}"
                )
                if _is_query(st):
                    roots |= _refs(st) | {st.name}
            else:
                roots |= _refs(st)
    for pattern in ("*.py", "tools/*.py", "perfbench/*.py"):
        for path in ROOT.glob(pattern):
            roots |= _refs(ast.parse(path.read_text()))
    roots |= set(re.findall(r"\w+", (ROOT / "README.md").read_text()))

    reached: set[str] = set()
    todo = roots & defs.keys()
    while todo:
        name = todo.pop()
        reached.add(name)
        for node in defs[name]:
            todo |= (_refs(node) & defs.keys()) - reached
    return sites, reached


def test_every_package_def_is_reached():
    sites, reached = _scan()
    unreached = sorted(set(sites) - reached - KEEP.keys())
    assert not unreached, "reached only by tests (or by nothing):\n" + "\n".join(
        f"  {name}  {', '.join(sites[name])}" for name in unreached
    )


def test_keep_list_is_current():
    sites, reached = _scan()
    assert not KEEP.keys() - sites.keys(), "keep-list names a def that is gone"
    assert not KEEP.keys() & reached, "keep-list names a def the product reaches"
