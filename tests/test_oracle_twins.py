"""Every DuckDB fragment that mirrors an engine rule is written once.

The oracles in ``plans/`` are composed from the SQL twins in
``plans/_util.py``. This guard reads every string literal in
``plans/*.py`` (f-string placeholders kept as ``{expr}``, docstrings
skipped), makes its CTE names blind (each name a literal defines with
``name AS (`` becomes a positional placeholder, in order of first
definition, wherever it occurs in that literal, so a copy with renamed
CTEs still matches), normalizes whitespace, drops blank lines, and
fails when two literals share a run of 4 or more consecutive lines
that adds up to at least 120 characters: such a run is a rule written
out twice, which then has to be edited in step. Fold it into a twin
instead.
"""

from __future__ import annotations

import ast
import itertools
import pathlib
import re

PLANS = pathlib.Path(__file__).resolve().parents[1] / "ml_data_wrangler_spark" / "plans"
MIN_LINES = 4
MIN_CHARS = 120
# a CTE definition: `name AS (` or `name(col, ...) AS (`
CTE_DEF = re.compile(r"\b(\w+)\s*(?:\([\w\s,]*\))?\s+AS\s*\(", re.IGNORECASE)

# literal name -> why its copy is kept
ALLOWED = {
    "relational_queries:q21_waiting_suppliers#2": (
        "q21's Spark side is its own spark.sql text over temp views; "
        "deriving it from the oracle text would make the oracle check itself"
    ),
}


def _text(node: ast.Constant | ast.JoinedStr) -> str:
    if isinstance(node, ast.Constant):
        return node.value
    return "".join(
        v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
        for v in node.values
    )


def cte_blind(text: str) -> str:
    """`text` with each CTE name it defines replaced by `_cte<k>`, k
    the order of first definition."""
    names: dict[str, str] = {}
    for m in CTE_DEF.finditer(text):
        names.setdefault(m.group(1), f"_cte{len(names) + 1}")
    if not names:
        return text
    pattern = re.compile(r"\b(" + "|".join(map(re.escape, names)) + r")\b")
    return pattern.sub(lambda m: names[m.group(1)], text)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef)) and n.body:
            first = n.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def literals() -> dict[str, list[str]]:
    """{module:owner[#k]: normalized non-blank lines} for every string
    literal of MIN_LINES or more lines; the owner is the registered
    query name, the assigned name, or the enclosing function."""
    found: dict[str, list[str]] = {}

    def add(name: str, text: str) -> None:
        lines = [
            ln for ln in (" ".join(x.split()) for x in cte_blind(text).splitlines()) if ln
        ]
        if len(lines) < MIN_LINES:
            return
        key, k = name, 1
        while key in found:
            k += 1
            key = f"{name}#{k}"
        found[key] = lines

    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)

        def visit(node: ast.AST, owner: str) -> None:
            if isinstance(node, ast.FunctionDef):
                name = node.name
                for d in node.decorator_list:
                    if (
                        isinstance(d, ast.Call)
                        and getattr(d.func, "id", "") == "query"
                        and isinstance(d.args[0], ast.Constant)
                    ):
                        name = d.args[0].value
                        for kw in d.keywords:
                            visit(kw.value, name)
                for child in node.args.defaults + node.body:
                    visit(child, name)
                return
            if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
                visit(node.value, node.targets[0].id if owner == "" else owner)
                return
            if isinstance(node, ast.JoinedStr) or (
                isinstance(node, ast.Constant) and isinstance(node.value, str)
            ):
                if id(node) not in docs:
                    add(f"{path.stem}:{owner or '<module>'}", _text(node))
                if isinstance(node, ast.JoinedStr):
                    for v in node.values:
                        if isinstance(v, ast.FormattedValue):
                            visit(v.value, owner)
                return
            for child in ast.iter_child_nodes(node):
                visit(child, owner)

        visit(tree, "")
    return found


def shared_runs(a: list[str], b: list[str]):
    """Maximal runs of equal consecutive lines: (first line, length, chars)."""
    prev = [0] * (len(b) + 1)
    for x in range(len(a)):
        cur = [0] * (len(b) + 1)
        for y in range(len(b)):
            if a[x] == b[y]:
                cur[y + 1] = prev[y] + 1
        for y in range(len(b)):
            k = cur[y + 1]
            ends = x + 1 == len(a) or y + 1 == len(b) or a[x + 1] != b[y + 1]
            if k and ends:
                run = a[x - k + 1 : x + 1]
                yield run[0], k, sum(map(len, run))
        prev = cur


def copies() -> list[tuple[str, str, str]]:
    """(literal, other literal, run description) for every long run."""
    lits = literals()
    # only pairs that share a MIN_LINES window can share a long run
    windows: dict[tuple[str, ...], set[str]] = {}
    for name, lines in lits.items():
        for i in range(len(lines) - MIN_LINES + 1):
            windows.setdefault(tuple(lines[i : i + MIN_LINES]), set()).add(name)
    pairs = {
        pair
        for names in windows.values()
        for pair in itertools.combinations(sorted(names), 2)
    }
    return [
        (na, nb, f"{k} lines from {first!r}")
        for na, nb in sorted(pairs)
        for first, k, chars in shared_runs(lits[na], lits[nb])
        if k >= MIN_LINES and chars >= MIN_CHARS
    ]


def test_the_scan_reads_the_oracles():
    lits = literals()
    assert "dedup_queries:qd01_exact_dedup" in lits
    assert "_util:SQL_QUALITY_FEATURES" in lits
    assert len(lits) > 150


def test_allowed_copies_still_exist():
    found = {name for na, nb, _ in copies() for name in (na, nb)}
    stale = sorted(set(ALLOWED) - found)
    assert not stale, f"allow-list entries that no longer share a run: {stale}"


def test_no_sql_literal_repeats_another():
    found: dict[str, list[str]] = {}
    for na, nb, run in copies():
        if na not in ALLOWED and nb not in ALLOWED:
            found.setdefault(na, []).append(f"{nb} ({run})")
            found.setdefault(nb, []).append(f"{na} ({run})")
    assert not found, (
        f"{len(found)} SQL literals repeat another; fold the run into a twin "
        "in plans/_util.py:\n"
        + "\n".join(f"  {k}: {'; '.join(v)}" for k, v in sorted(found.items()))
    )
