"""Every engine rule is built once on the Spark side.

The oracles' SQL twins live once in ``plans/_util.py``
(tests/test_oracle_twins.py); this guard holds the Spark side to the
same standard. It parses every module of the package and takes every
expression subtree of 40 or more AST nodes (counted by ``ast.walk``);
string constants and f-strings are SQL text, the other guard's
business, and are skipped. Local names are made blind: each
``ast.Name`` that is not the callee of a call becomes one placeholder,
while attributes, callee names and constants are kept. The same
normalized subtree at two source locations (file, line, col) is a rule
written out twice, which then has to be edited in step: build it once
— beside its SQL twin in ``plans/_util.py``, or in the
``operators/``/``functions/`` module the rule belongs to — and call
it. A repeat is reported once, at its largest extent: subtrees inside
a larger repeated subtree are not listed again.
"""

from __future__ import annotations

import ast
import copy
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "ml_data_wrangler_spark"
MIN_NODES = 40

# "file:owner ↔ file:owner" (sorted; the owner is the enclosing
# function) -> why the copy is kept
ALLOWED: dict[str, str] = {}


class _Blind(ast.NodeTransformer):
    def visit_Call(self, node: ast.Call) -> ast.Call:
        callee = node.func
        self.generic_visit(node)
        if isinstance(callee, ast.Name):
            node.func = callee
        return node

    def visit_Name(self, node: ast.Name) -> ast.Name:
        return ast.Name(id="_", ctx=ast.Load())


def _is_text(node: ast.AST) -> bool:
    return isinstance(node, ast.JoinedStr) or (
        isinstance(node, ast.Constant) and isinstance(node.value, str)
    )


def subtrees() -> dict[str, list[tuple[str, int, int, str, frozenset[int]]]]:
    """{blind dump: [(file, line, col, owner, ids of enclosing big
    subtrees) + node id]} for every expression subtree of MIN_NODES or
    more nodes."""
    found: dict[str, list] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def visit(node: ast.AST, owner: str, outer: tuple[int, ...]) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner = node.name
            if (
                isinstance(node, ast.expr)
                and not _is_text(node)
                and sum(1 for _ in ast.walk(node)) >= MIN_NODES
            ):
                dump = ast.dump(_Blind().visit(copy.deepcopy(node)))
                found.setdefault(dump, []).append(
                    (rel, node.lineno, node.col_offset, owner, frozenset(outer), id(node))
                )
                outer = outer + (id(node),)
            for child in ast.iter_child_nodes(node):
                visit(child, owner, outer)

        visit(ast.parse(path.read_text()), "<module>", ())
    return found


def copies() -> dict[str, list[str]]:
    """{family key: ["file:line:col", ...]} for every repeated subtree
    not wholly inside a larger repeated subtree."""
    repeated = [locs for locs in subtrees().values() if len(locs) > 1]
    in_repeat = {loc[5] for locs in repeated for loc in locs}
    out: dict[str, list[str]] = {}
    for locs in repeated:
        if all(loc[4] & in_repeat for loc in locs):
            continue
        key = " ↔ ".join(sorted(f"{f}:{owner}" for f, _, _, owner, _, _ in locs))
        out.setdefault(key, []).extend(f"{f}:{ln}:{col}" for f, ln, col, _, _, _ in locs)
    return out


def test_the_scan_reads_the_package():
    files = {loc[0] for locs in subtrees().values() for loc in locs}
    assert {"plans/_util.py", "operators/dedup.py", "operators/asof.py"} <= files
    assert len(files) > 20


def test_allowed_copies_still_exist():
    stale = sorted(set(ALLOWED) - set(copies()))
    assert not stale, f"allow-list entries that no longer repeat: {stale}"


def test_no_engine_rule_is_built_twice():
    found = {k: v for k, v in copies().items() if k not in ALLOWED}
    assert not found, (
        f"{len(found)} expressions are built at two or more places; build "
        "each once and call it:\n"
        + "\n".join(f"  {k}: {', '.join(v)}" for k, v in sorted(found.items()))
    )
