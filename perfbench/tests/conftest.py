"""Fixtures for the benchmark's own tests (run from the repository
root: ``python -m pytest perfbench/tests``)."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [p for p in (ROOT, BENCH) if p not in sys.path]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import harness

    session = harness._session(str(tmp_path_factory.mktemp("spark")))
    yield session
    session.stop()
