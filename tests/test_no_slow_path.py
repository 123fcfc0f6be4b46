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
    # Python rows are parallelized and re-pickled by a Python-worker job (a
    # Scan ExistingRDD); an Arrow table plans as a LocalTableScan
    (re.compile(r"\bcreateDataFrame\((?!\s*pa\.)"), "createDataFrame from Python rows (RDD API)"),
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


# defaulted parameters kept although no production call site sets them
OPTION_ALLOWED = {
    "oracle.py:materialize_expected.params":
        "the page path's PipelineParams (process_document -> materialize_expected): the"
        " reference's ocrd-tool.json parameter surface, incl. the Otsu/Sauvola choice",
    "operators/pipeline.py:build_page_results.params":
        "the page path's PipelineParams (process_page -> process_pages ->"
        " build_page_results), the same parameter surface",
    "sources/tables.py:spark_session.app": "deployment setting: the Spark application name",
}


def _options():
    """{key: (callee name, param, positional index or None)} for every
    defaulted parameter of every function and method of the package (nested
    functions included), keyed ``rel:qualname.param``. The index counts
    call-site positions, so a method's ``self``/``cls`` is skipped; a
    class's ``__init__`` is called by the class name."""
    out = {}

    def visit(body, rel, prefix, cls):
        for st in body:
            if isinstance(st, ast.ClassDef):
                visit(st.body, rel, f"{prefix}{st.name}.", st.name)
            elif isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = st.args
                static = any(getattr(d, "id", None) == "staticmethod" for d in st.decorator_list)
                skip = 1 if cls and not static else 0
                callee = cls if st.name == "__init__" else st.name
                qual = f"{rel}:{prefix}{st.name}"
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i, arg in enumerate(pos[first:], first):
                    out[f"{qual}.{arg.arg}"] = (callee, arg.arg, i - skip)
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out[f"{qual}.{arg.arg}"] = (callee, arg.arg, None)
                visit(st.body, rel, f"{prefix}{st.name}.", None)

    for path in _py_files(PKG):
        visit(ast.parse(open(path).read()).body, os.path.relpath(path, PKG), "", None)
    return out


def _production_calls():
    """(callee name, keywords passed, positions passed or None for all) of
    every call in production code: the package and the PRODUCTION roots.
    ``functools.partial(f, ...)`` counts as a call of ``f``."""

    def name(func):
        return func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)

    for path in [*_py_files(PKG), *(p for e in PRODUCTION for p in _py_files(os.path.join(ROOT, e)))]:
        for node in ast.walk(ast.parse(open(path).read())):
            if not isinstance(node, ast.Call):
                continue
            callee, args = name(node.func), node.args
            if callee == "partial" and args:
                callee, args = name(args[0]), args[1:]
            kws = {k.arg for k in node.keywords}  # None: a **mapping passes any keyword
            n_pos = None if any(isinstance(x, ast.Starred) for x in args) else len(args)
            yield callee, kws, n_pos


def test_every_option_has_a_production_caller():
    """An option exists only where a production caller sets it: every
    defaulted parameter of the package must be passed (by keyword, by
    position or through functools.partial) at some production call site,
    or be in OPTION_ALLOWED. A value only tests set is a module constant
    that tests patch. Calls match by bare name, as for the definitions
    above, so an option this flags is set nowhere in production. The
    border reference kept in TEST_ONLY_ALLOWED is exempt."""
    options = _options()
    calls = list(_production_calls())

    def is_set(callee, param, idx):
        for name, kws, n_pos in calls:
            if name != callee:
                continue
            if param in kws or None in kws:
                return True
            if idx is not None and (n_pos is None or n_pos > idx):
                return True
        return False

    exempt = tuple(f"{k}." for k in TEST_ONLY_ALLOWED)
    unset = {k for k, v in options.items() if not k.startswith(exempt) and not is_set(*v)}
    unused = sorted(unset - set(OPTION_ALLOWED))
    assert not unused, "defaulted parameters no production call site sets:\n" + "\n".join(unused)
    stale = sorted(set(OPTION_ALLOWED) - unset)
    assert not stale, f"allowlisted but set in production (or gone): {stale}"


def test_one_session_relation_registry():
    """Per-session relations go through sources.session_cache.shared: it
    alone reads spark.app.id, and no operator module keeps a module-level
    *_CACHE of its own."""
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


def test_one_hex_int_builder():
    """The hex-prefix→integer formula has one builder per engine, in
    hexint.py: no other package source spells the Spark ``conv(substring(``
    form or the DuckDB strpos arithmetic over the hex alphabet."""
    pat = re.compile(r"conv\(substring\(|strpos\(|0123456789abcdef")
    violations = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        if rel == "hexint.py":
            continue
        for i, line in enumerate(open(path), 1):
            if pat.search(line):
                violations.append(f"{rel}:{i}: {line.strip()}")
    assert not violations, "\n".join(violations)


def test_oracle_texts_final_at_definition():
    """An oracle text is complete where it is defined: no module reassigns
    an ORACLE_* constant, nothing but ``register`` assigns into
    queries.ORACLE, and no registered text carries a placeholder token."""
    from ocrd_anybaseocr_spark.queries import ORACLE

    violations = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        seen = set()
        for stmt in ast.parse(open(path).read()).body:
            if isinstance(stmt, ast.FunctionDef) and stmt.name == "register":
                continue
            for node in ast.walk(stmt):
                if not isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                    continue
                for t in getattr(node, "targets", None) or [node.target]:
                    if isinstance(t, ast.Name) and t.id.startswith("ORACLE_"):
                        if t.id in seen or isinstance(node, ast.AugAssign):
                            violations.append(f"{rel}:{node.lineno}: reassigns {t.id}")
                        seen.add(t.id)
                    if (isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
                            and t.value.id == "ORACLE"):
                        violations.append(f"{rel}:{node.lineno}: assigns into ORACLE")
    token = re.compile(r"%[A-Za-z_]\w*%|\{[A-Za-z_]\w*\}")
    violations += [f"ORACLE[{k!r}]: {token.findall(v)}" for k, v in ORACLE.items()
                   if token.search(v)]
    assert not violations, "\n".join(violations)


def test_every_config_field_is_read():
    """Every field of the config.py dataclasses is read as an attribute
    somewhere in the package or perfbench/ (by bare name, like the
    reachability ratchets): a parameter nothing reads is not a parameter."""
    fields = [
        (cls.name, st.target.id)
        for cls in ast.parse(open(os.path.join(PKG, "config.py")).read()).body
        if isinstance(cls, ast.ClassDef)
        for st in cls.body
        if isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name)
    ]
    read = set()
    for path in [*_py_files(PKG), *_py_files(os.path.join(ROOT, "perfbench"))]:
        read |= {n.attr for n in ast.walk(ast.parse(open(path).read()))
                 if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)}
    unread = [f"{c}.{f}" for c, f in fields if f not in read]
    assert fields and not unread, f"config fields nothing reads: {unread}"
