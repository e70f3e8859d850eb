import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def run_env():
    """A benchmark run environment with its Spark session, started the
    way a benchmark run starts it (per-run zip, worker source check)."""
    from perfbench.env import RunEnv
    env = RunEnv(ROOT)
    try:
        env.start_session()
        yield env
    finally:
        env.stop()
