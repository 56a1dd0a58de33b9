"""Every top-level definition in the package is reachable from a real
entry point, not only from tests.

An AST pass with name-level resolution: a reference to ``foo`` (as a
bare name or as ``x.foo``) reaches every top-level package definition
called ``foo``. Definitions are functions, classes and module-level
assignments to plain names (constants). The roots are

  * every ``@query``-registered function (the registry loads them all);
  * module-level code of every package module, outside imports and
    definitions (``__init__.py`` re-exports count: they are the
    package's import surface);
  * the CLI (``__main__.py``) and the driver contract
    (``__spark_entry__.py``);
  * ``bench.py``, ``scripts/``, ``perfbench/``, and the two test files
    that are programs rather than tests: ``tests/oracle_harness.py``
    (perfbench loads it) and ``tests/run_parity.py``.

A definition that only ``tests/`` reaches, or that nothing reaches, is
dead code with a test around it, and the check fails naming it.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ml_data_wrangler_spark"

ROOT_FILES = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    PACKAGE / "__main__.py",
    REPO / "tests" / "oracle_harness.py",
    REPO / "tests" / "run_parity.py",
    *sorted((REPO / "scripts").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]

# Kept although no entry point calls them yet; what they call is kept
# with them.
ALLOWED = {
    "ml_data_wrangler_spark.presentation.pyldavis_payload": (
        "the paper's report stage: pyLDAvis payload (SURVEY M6)"
    ),
    "ml_data_wrangler_spark.presentation.coherence_series": (
        "the paper's report stage: coherence-vs-k line plot (SURVEY M4)"
    ),
    "ml_data_wrangler_spark.operators.lda.top_5_topics": (
        "the paper's report stage: top-5 topics per model (SURVEY M4)"
    ),
    "ml_data_wrangler_spark.__version__": (
        "package metadata: the version callers read off the package"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined(stmt: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a def or class, or an
    assignment whose every target is a plain name (or a tuple of
    them). Other statements define nothing and run as module code."""
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    if isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    elif isinstance(stmt, ast.Assign):
        targets = stmt.targets
    else:
        return []
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, (ast.Tuple, ast.List)) else [target]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return names


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` refers to: bare names, attribute
    names, and names brought in by ``from … import`` (function-local
    imports and ``__init__`` re-exports)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_query(fn: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in getattr(fn, "decorator_list", ())
    )


def _package():
    """({qualified name: body names}, {bare name: [qualified names]},
    root names from package module-level code and @query functions)."""
    uses: dict[str, set[str]] = {}
    by_name: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "__main__.py":
            continue
        module = _module_name(path)
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            defined = _defined(stmt)
            for name in defined:
                qual = f"{module}.{name}"
                if qual not in uses:
                    by_name.setdefault(name, []).append(qual)
                uses.setdefault(qual, set()).update(_names(stmt))
                if _is_query(stmt):
                    roots.add(name)
            if defined:
                continue
            if not isinstance(stmt, ast.Import) and (
                path.name == "__init__.py" or not isinstance(stmt, ast.ImportFrom)
            ):
                roots |= _names(stmt)
    return uses, by_name, roots


def _closure(uses, by_name, names=(), quals=()) -> set[str]:
    seen: set[str] = set()
    todo = [*quals, *(q for name in names for q in by_name.get(name, ()))]
    while todo:
        qual = todo.pop()
        if qual in seen:
            continue
        seen.add(qual)
        todo.extend(q for name in uses[qual] for q in by_name.get(name, ()))
    return seen


def _file_names(paths) -> set[str]:
    out: set[str] = set()
    for path in paths:
        out |= _names(ast.parse(path.read_text(), str(path)))
    return out


def unreachable() -> dict[str, str]:
    """{qualified name: "test-only" | "unreferenced"} for every
    top-level package definition that no entry point reaches."""
    uses, by_name, roots = _package()
    live = _closure(uses, by_name, roots | _file_names(ROOT_FILES))
    tests = [*(REPO / "tests").glob("test_*.py"), REPO / "tests" / "conftest.py"]
    tested = _closure(uses, by_name, _file_names(tests))
    return {
        qual: "test-only" if qual in tested else "unreferenced"
        for qual in sorted(uses)
        if qual not in live
    }


def test_every_definition_is_reachable():
    uses, by_name, _ = _package()
    kept = _closure(uses, by_name, quals=ALLOWED)
    dead = {q: why for q, why in unreachable().items() if q not in kept}
    assert not dead, "unreachable package definitions:\n" + "\n".join(
        f"  {q}  ({why})" for q, why in dead.items()
    )


def test_allow_list_is_current():
    """An allow-listed name that is gone, or that an entry point now
    reaches, leaves the list."""
    assert set(ALLOWED) <= set(unreachable())
