"""The slow-test list in ``conftest.py`` names tests by
``<file>::<function>[<param>]``. A renamed or deleted test leaves a stale
entry that matches nothing, and the renamed test silently joins the
default profile; this check fails on such an entry instead. It reads the
test files' source, so it holds whichever tests a run selects."""

import ast
import os

from conftest import _SLOW_TESTS

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _test_functions(basename: str) -> set[str]:
    path = os.path.join(_TESTS_DIR, basename)
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        tree = ast.parse(f.read())
    return {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }


def test_slow_tests_name_existing_functions():
    stale = []
    for entry in sorted(_SLOW_TESTS):
        basename, name = entry.split("::")
        if name.split("[")[0] not in _test_functions(basename):
            stale.append(entry)
    assert not stale, f"_SLOW_TESTS names tests that do not exist: {stale}"

