import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import common  # noqa: E402


@pytest.fixture(scope="session")
def work(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("perfbench"))
    common.pin_environment(path)
    return path


@pytest.fixture(scope="session")
def spark(work):
    s = common.start_session(work)
    yield s
    common.stop_session(s)
