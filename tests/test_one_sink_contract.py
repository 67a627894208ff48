"""The changefeed knows no sink type. ``SINKS`` in ``changefeed.py`` maps
each URI scheme to a sink class, and every sink is then called through
one contract (``streaming.sinks.Sink``): build, ``prepare``,
``process_batch``, ``apply_ddl``, ``mirror_syncpoint``, ``dirs``. A type
test or an attribute probe on a sink in the changefeed or the engine, or
a scheme spelled outside the table, would bring back the per-sink
branches that drifted apart (only one sink got a barrier fence, and the
ddl_ts row was kept by a DROP TABLE test of its own)."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "tigate_spark"
SCANNED = ("streaming/changefeed.py", "engine.py")
PROBES = {"isinstance", "hasattr", "getattr", "setattr"}


def _table(tree: ast.AST) -> ast.Assign | ast.AnnAssign | None:
    """The module-level ``SINKS = {...}`` assignment."""
    for node in tree.body:
        target = (node.targets[0] if isinstance(node, ast.Assign)
                  else node.target if isinstance(node, ast.AnnAssign)
                  else None)
        if (isinstance(target, ast.Name) and target.id == "SINKS"
                and isinstance(node.value, ast.Dict)):
            return node
    return None


#: the schemes the engine has always accepted; the table may add more
KNOWN = {"replica", "changelog", "kafka", "file", "s3", "storage",
         "sqlite", "mysql", "tidb", "noop", "blackhole"}


def test_changefeed_and_engine_probe_no_sink():
    found = []
    for rel in SCANNED:
        for node in ast.walk(ast.parse((PKG / rel).read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id in PROBES
                    and any("sink" in ast.unparse(a).lower()
                            for a in node.args)):
                found.append((rel, node.lineno, ast.unparse(node)))
    assert not found, found


def test_schemes_are_spelled_only_in_the_table():
    table = _table(ast.parse((PKG / SCANNED[0]).read_text()))
    schemes = KNOWN | ({k.value for k in table.value.keys} if table else set())
    found = []
    for rel in SCANNED:
        tree = ast.parse((PKG / rel).read_text())
        own = _table(tree)
        inside = set() if own is None else {id(n) for n in ast.walk(own)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in inside
                    and (node.value in schemes
                         or node.value.split("://", 1)[0] in schemes)):
                found.append((rel, node.lineno, node.value))
    assert not found, found
    assert table is not None, "changefeed.py has no SINKS table"
    assert KNOWN <= {k.value for k in table.value.keys}
