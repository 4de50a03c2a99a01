"""Benchmark self-tests.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

They are not part of the repository's own suite under tests/.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    import run

    run.pin_environment()
    s = run.start_spark()
    yield s
    run.stop_spark(s)
