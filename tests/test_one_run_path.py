"""One way to run an availableNow query: ``run_available_now`` owns the
start → await → stop-on-timeout → count lifecycle, and
``Changefeed.start`` is the only other place that sets the trigger (the
engine's start/resume hand back a live query). A second hand-rolled
scaffold would bring back the faults the helper fixed: a timed-out query
reported as success and batch counts read from the offsets log."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "tigate_spark"

ALLOWED = {
    ("streaming/changefeed.py", "run_available_now"),
    ("streaming/changefeed.py", "Changefeed.start"),
}


def _scopes(tree: ast.AST) -> list[tuple[int, int, str]]:
    """(first line, last line, qualified name) of every def/class."""
    out = []

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                name = f"{prefix}{child.name}"
                out.append((child.lineno, child.end_lineno, name))
                walk(child, name + ".")
            else:
                walk(child, prefix)

    walk(tree, "")
    return out


def _owner(scopes, line: int) -> str:
    inner = [s for s in scopes if s[0] <= line <= s[1]]
    return max(inner, key=lambda s: s[0])[2] if inner else "<module>"


def test_available_now_runs_only_through_the_helper():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        scopes = _scopes(ast.parse(src))
        rel = path.relative_to(PKG).as_posix()
        for i, line in enumerate(src.splitlines(), 1):
            if "awaitTermination(" in line or "availableNow=True" in line:
                found.append((rel, _owner(scopes, i), line.strip()))
    stray = [f for f in found if f[:2] not in ALLOWED]
    assert not stray, stray
    # the helper awaits exactly once
    assert sum("awaitTermination(" in f[2] for f in found) == 1, found
