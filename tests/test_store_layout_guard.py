"""Store layout lives in ONE module, as a TEST: every ``batch=<id>``
directory a derived store writes or reads is spelled by
streaming/store.py (``append_batch`` / ``batch_dir`` / ``batch_dirs``).
A second spelling elsewhere in the package is a second copy of the
layout rule that the store contract's listing, pruning, compaction and
erasure would not know about — the test fails the moment one lands.
Docstrings and prose may name the layout; only string literals that
build or match a directory name count."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_pipeline_challenge_aladia_spark",
)

#: the one module allowed to spell the batch directory layout
OWNER = os.path.join("streaming", "store.py")


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring nodes of a module and its defs/classes."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
            ):
                out.add(id(body[0].value))
    return out


def _spells_batch_dir(node: ast.AST) -> bool:
    """A literal that builds or matches a ``batch=`` directory name:
    ``"batch="`` / ``"batch=3"`` / ``".../batch=..."``, or an f-string
    with a ``batch=`` part right before a formatted value."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value.startswith("batch=") or "/batch=" in node.value
    if isinstance(node, ast.JoinedStr):
        return any(
            isinstance(v, ast.Constant)
            and isinstance(v.value, str)
            and (v.value.endswith("batch=") or v.value.startswith("batch="))
            for v in node.values
        )
    return False


def _spellings(path: str) -> list[tuple[int, str]]:
    with open(path) as fh:
        src = fh.read()
    tree = ast.parse(src)
    docs = _docstrings(tree)
    inside_fstring = {
        id(v)
        for node in ast.walk(tree)
        if isinstance(node, ast.JoinedStr)
        for v in node.values
    }
    return [
        (node.lineno, ast.get_source_segment(src, node) or "")
        for node in ast.walk(tree)
        if id(node) not in docs
        and id(node) not in inside_fstring
        and _spells_batch_dir(node)
    ]


def test_only_the_store_module_spells_batch_directories():
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            if rel == OWNER:
                continue
            hits += [(rel, line, seg) for line, seg in _spellings(path)]
    assert not hits, (
        "batch directory spelled outside streaming/store.py — use "
        f"append_batch / batch_dir / batch_dirs: {hits}"
    )


def test_guard_sees_the_spellings_it_bans():
    # the owner module itself spells the layout, so a guard that
    # matched nothing there would be a dead check
    assert _spellings(os.path.join(PKG, OWNER))
    for src in (
        'os.path.join(p, f"batch={i}")',
        'os.path.join(p, "batch=" + str(i))',
        '"batch=%d" % i',
        'f"{p}/batch={i}"',
    ):
        tree = ast.parse(src)
        assert any(_spells_batch_dir(n) for n in ast.walk(tree)), src
    for src in (
        '"""Writes ``batch=<id>`` directories."""',
        'doc = "a batch=<epoch> directory under the store"',
    ):
        tree = ast.parse(src)
        docs = _docstrings(tree)
        assert not any(
            _spells_batch_dir(n) and id(n) not in docs
            for n in ast.walk(tree)
        ), src
