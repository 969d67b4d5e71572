"""The suite's sharding rule: which invocations count as a full run."""

import os
from types import SimpleNamespace

import pytest

from tests import conftest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("args, full", [
    ([], True),                          # bare pytest, no rootdir arg
    ([ROOT], True),                      # bare pytest: args = rootdir
    (["tests/"], True),
    (["tests"], True),
    (["tests/test_ahp.py"], False),      # a developer loop stays in-process
    (["tests/test_ahp.py::test_golden_scores"], False),
    (["tests/", "tests/test_ahp.py"], False),
])
def test_full_suite_run_detection(monkeypatch, args, full):
    monkeypatch.chdir(ROOT)
    assert conftest._is_full_suite_run(SimpleNamespace(args=args)) is full
