from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    """A small session: one core, 1 GB heap."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "1")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from amorphous_mapreduce_spark import get_spark

    session = get_spark(
        app_name="perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    yield session
    session.stop()
