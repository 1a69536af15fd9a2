import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    import time

    time.tzset()
    from kafkatosparktokudu_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    yield get_spark(
        app_name="cdcbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(local), "spark.ui.showConsoleProgress": "false"},
    )
