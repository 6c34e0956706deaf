import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    # the same settings as tests/conftest.py: whichever directory pytest
    # collects first starts the one JVM the whole session shares
    from pyspark.sql import SparkSession
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    s = (SparkSession.builder
         .master(f"local[{cpus}]")
         .appName("versa_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    yield s
    s.stop()
