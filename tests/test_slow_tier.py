"""The slow tier names only tests that exist: pytest.ini deselects every
``SLOW_TESTS`` entry from the default run, so an entry whose test was
deleted or renamed would hide that loss instead of failing."""

from __future__ import annotations

import ast
import os

from .conftest import COLLECTED, SLOW_TESTS


def _functions(path: str) -> set[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    return {
        n.name for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_slow_tier_entries_name_existing_tests(request):
    collected = request.config.stash.get(COLLECTED, set())
    collected_files = {c.partition("::")[0] for c in collected}
    # a node-id argument collects only part of its file
    partial = any("::" in a for a in request.config.args)
    here = os.path.dirname(os.path.abspath(__file__))
    missing = []
    for entry in sorted(SLOW_TESTS):
        fname, _, test = entry.partition("::")
        if fname in collected_files and not partial:
            # exact: the entry must be a collected node id, parameter too
            if entry not in collected:
                missing.append(entry)
            continue
        # file not collected in this run: the test function must exist
        path = os.path.join(here, fname)
        name = test.partition("[")[0]
        if not os.path.exists(path) or name not in _functions(path):
            missing.append(entry)
    assert missing == [], f"SLOW_TESTS entries naming no test: {missing}"
