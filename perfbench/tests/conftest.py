import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                   # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine package

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import tempfile

    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("spark"))
    tempfile.tempdir = tmp  # the engine's scratch tables go here
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.local.dir", os.path.join(tmp, "local"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
