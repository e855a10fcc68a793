"""One Spark session for every test of the benchmark."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def sess():
    from perfbench.common import fresh_work_dir, remove_work_dir, start_session, stop_session

    work = fresh_work_dir("smoke")
    s = start_session(work, "perfbench-smoke")
    yield s
    stop_session(s)
    remove_work_dir(work)
