"""Static contracts of the package: Arrow UDFs only (mapInArrow and
applyInArrow; no pandas transport, no pandas import), no row-at-a-time
Python UDFs, no RDD API anywhere (SURVEY.md §2.10), and no definition
that only tests reach."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "ocrd_anybaseocr_spark")

FORBIDDEN = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"\budf\s*\(\s*lambda"), "row-at-a-time udf(lambda)"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf"),
    (re.compile(r"\.rdd\b"), "RDD API"),
    (re.compile(r"\bsparkContext\b"), "SparkContext usage"),
    (re.compile(r"\bmapInPandas\b"), "pandas UDF transport mapInPandas"),
    (re.compile(r"\bapplyInPandas\b"), "pandas UDF transport applyInPandas"),
    (re.compile(r"^\s*(?:import|from) pandas\b", re.M), "pandas import"),
    (re.compile(r"\.collect\(\)\s*\)?\s*(?:for|\[|$)", re.M), None),  # informational only
]


def test_no_row_udfs_or_rdd():
    violations = []
    for dirpath, _dirs, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            src = open(path).read()
            for pat, label in FORBIDDEN:
                if label is None:
                    continue
                for m in pat.finditer(src):
                    line = src[: m.start()].count("\n") + 1
                    violations.append(f"{path}:{line}: {label}")
    assert not violations, "\n".join(violations)


# Production roots outside the package: the Spark entry module, jobs, bench
# harnesses, tools and the benchmark. tests/ is deliberately absent.
ROOT = os.path.dirname(PKG)
PRODUCTION = ["__spark_entry__.py", "bench.py", "bench_extra.py", "jobs", "tools", "perfbench"]
# decorators that register a definition (the query registry)
REGISTRIES = {"register"}
# definitions kept on purpose although no production path reaches them
TEST_ONLY_ALLOWED = {
    "kernels/crop.py:detect_border_profile": "reference that tests check detect_border against",
    "kernels/crop.py:_side_candidates": "helper of that reference",
}


def _py_files(path):
    if path.endswith(".py"):
        yield path
        return
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))


def _names(*nodes) -> set[str]:
    """Identifiers the nodes load: bare names and attribute names."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _defined(stmt) -> list[str]:
    """Names a top-level statement defines: a function or class, or the
    plain-name targets of a constant assignment (dunders excluded)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    if len(names) != len(targets) or any(n.startswith("__") for n in names):
        return []
    return names


def test_no_test_only_definitions():
    """Every top-level function, class and constant of the package must be
    reachable from production code. Reachability is by name, transitively:
    the roots are everything a production file outside the package loads,
    the package's own module-level statements and decorators, and every
    registry-decorated definition; a reached definition's body (a
    constant's value) reaches further. Matching by bare name over-approximates what is live, so a
    definition this flags is referenced only from tests/ or nowhere."""
    roots, bodies, by_name = set(), {}, {}
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        for stmt in ast.parse(open(path).read()).body:
            names = _defined(stmt)
            if not names:
                roots |= _names(stmt)
                continue
            if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                body = _names(stmt.value) if stmt.value else set()
            else:
                body = _names(*stmt.body, *getattr(stmt, "bases", []))
                roots |= _names(*stmt.decorator_list)
                if any(isinstance(d, ast.Call) and getattr(d.func, "id", None) in REGISTRIES
                       for d in stmt.decorator_list):
                    roots.add(stmt.name)
            for name in names:
                key = f"{rel}:{name}"
                if key not in bodies:
                    by_name.setdefault(name, []).append(key)
                # a reassigned constant (X = X.replace(...)) reaches what
                # every one of its values loads
                bodies[key] = bodies.get(key, set()) | body
    for entry in PRODUCTION:
        for path in _py_files(os.path.join(ROOT, entry)):
            roots |= _names(ast.parse(open(path).read()))
    live, frontier = set(), set(roots)
    while frontier:
        for key in by_name.get(frontier.pop(), ()):
            if key not in live:
                live.add(key)
                frontier |= bodies[key]
    unreached = sorted(set(bodies) - live)
    dead = [k for k in unreached if k not in TEST_ONLY_ALLOWED]
    assert not dead, "reached only from tests/ (or nowhere):\n" + "\n".join(dead)
    stale = [a for a in TEST_ONLY_ALLOWED if a not in unreached]
    assert not stale, f"allowlisted but reached from production (or gone): {stale}"


def test_one_session_relation_registry():
    """Per-session relations go through sources.session_cache.shared: it
    alone reads spark.app.id, and no operator module keeps a module-level
    *_CACHE of its own (kernels/transform._W_CACHE, a bounded numpy weight
    memo that is not per session, lives outside operators/)."""
    violations = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        src = open(path).read()
        if "spark.app.id" in src and rel != os.path.join("sources", "session_cache.py"):
            violations.append(f"{rel}: reads spark.app.id")
        if rel.startswith("operators" + os.sep):
            for stmt in ast.parse(src).body:
                targets = (stmt.targets if isinstance(stmt, ast.Assign)
                           else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
                violations += [f"{rel}: module-level {t.id}" for t in targets
                               if isinstance(t, ast.Name) and t.id.endswith("_CACHE")]
    assert not violations, "\n".join(violations)


def test_page_stage_module_imports_no_pandas():
    """A worker running the page stage unpickles functions of
    operators.pipeline; importing that module (no JVM) must not load
    pandas, which costs ~0.4-0.5 s cold per Python worker."""
    code = "import sys, ocrd_anybaseocr_spark.operators.pipeline; print('pandas' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"
