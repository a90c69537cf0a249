"""The slow-test manifest (tests/slow_tests.txt) names only tests that
exist. The collection hook marks the node ids it meets and ignores the
rest, so a stale line goes unnoticed: a deleted slow test leaves a dead
entry behind, and a renamed one silently moves into the default run
and its time budget. Parsed with ``ast``; no Spark (the registry is
imported, not run)."""

import ast
import os

from engine.registry import all_queries_including_library
from tests.conftest import _SLOW_MANIFEST

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ORACLE_CASE = "tests/test_queries_oracle.py::test_query_matches_oracle["


def _entries() -> list[str]:
    with open(_SLOW_MANIFEST) as f:
        return [ln.strip() for ln in f if ln.strip()]


def _test_functions(path: str) -> set[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_every_slow_entry_names_a_defined_test():
    entries = _entries()
    assert entries
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in entries:
        path, sep, name = entry.partition("::")
        name = name.split("[", 1)[0]
        full = os.path.join(_REPO, path)
        if not sep or not os.path.isfile(full):
            stale.append(entry)
            continue
        if path not in defined:
            defined[path] = _test_functions(full)
        if not name.startswith("test") or name not in defined[path]:
            stale.append(entry)
    assert stale == []


def test_every_slow_oracle_case_names_a_registered_query():
    """The check above strips ``[param]``, so an oracle case of a deleted
    query would pass it; its parameter must be a registered query."""
    registered = all_queries_including_library()
    stale = [
        entry
        for entry in _entries()
        if entry.startswith(_ORACLE_CASE)
        and entry[len(_ORACLE_CASE):].removesuffix("]") not in registered
    ]
    assert stale == []
