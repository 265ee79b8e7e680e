"""Behaviour switches read from the environment are an explicit allow-list.

Every ``SPARK_GRAFT_*`` name the package reads doubles the configurations
the tests must cover, so a new one has to show up here, in review, rather
than arrive silently with an operator change. The scan is over the AST, so
a name mentioned only in a docstring or comment does not count, and a name
built at run time (an f-string) is refused outright.
"""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pgdedupe_spark"

# deployment settings only: core count, driver heap, executor JVM flags
ALLOWED = {"CPUS", "DRIVER_MEM", "DRIVER_JAVA_OPTS"}

_NAME = re.compile(r"SPARK_GRAFT_([A-Z0-9_]+)")


def _env_names(tree: ast.AST, where: str) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            m = _NAME.fullmatch(node.value)
            if m:
                names.add(m.group(1))
        elif isinstance(node, ast.JoinedStr):
            head = node.values[0] if node.values else None
            if isinstance(head, ast.Constant) and str(head.value).startswith("SPARK_GRAFT_"):
                raise AssertionError(f"{where}:{node.lineno}: SPARK_GRAFT_ name built at run time")
    return names


def test_spark_graft_env_reads_match_allow_list():
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        found |= _env_names(ast.parse(path.read_text(), str(path)), str(path))
    assert found == ALLOWED, {
        "unlisted": sorted(found - ALLOWED),
        "listed but unread": sorted(ALLOWED - found),
    }
