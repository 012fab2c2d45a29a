import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark-local"))
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", f"--conf spark.ui.showConsoleProgress=false --conf spark.local.dir={tmp} pyspark-shell")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from sec_dl_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()
