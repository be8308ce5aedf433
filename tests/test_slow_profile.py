"""The fast default profile (conftest.py, tests/slow_tests.txt): a slow
test named explicitly on the command line is still selected, whether
pytest runs from the repository root, from inside tests/, or is given an
absolute path."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from conftest import explicit_node_ids

TESTS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TESTS)


def test_explicit_node_ids_are_rootdir_relative():
    want = {"tests/test_x.py::test_y[a-1]"}
    for cwd, arg in ((ROOT, "tests/test_x.py::test_y[a-1]"),
                     (TESTS, "test_x.py::test_y[a-1]"),
                     ("/elsewhere", f"{TESTS}/test_x.py::test_y[a-1]")):
        assert explicit_node_ids([arg], cwd, ROOT) == want
    assert explicit_node_ids(["tests/test_x.py", "-k", "y"], ROOT,
                             ROOT) == set()


def _first_slow_node_id() -> str:
    with open(os.path.join(TESTS, "slow_tests.txt")) as fh:
        return next(ln.strip() for ln in fh
                    if ln.strip() and not ln.startswith("#"))


@pytest.mark.parametrize("where", ["root", "tests", "absolute"])
def test_explicit_slow_test_is_collected(where):
    node = _first_slow_node_id()
    arg, cwd = {"root": (node, ROOT),
                "tests": (node.split("/", 1)[1], TESTS),
                "absolute": (os.path.join(ROOT, node), TESTS)}[where]
    env = dict(os.environ, PYTHONPATH=ROOT, OSM_PG_AUTOBOOT="0")
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", arg],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    assert "deselected" not in out.stdout, out.stdout
    assert "1 test collected" in out.stdout, out.stdout + out.stderr
