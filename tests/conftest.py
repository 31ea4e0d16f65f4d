import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        # keeps each Python task from re-reading the spark-core jar; see
        # tests/spark_worker_daemon.py
        .config("spark.python.daemon.module", "spark_worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(__file__))
        .appName("dds-tests")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture
def tmp_table(tmp_path):
    return str(tmp_path / "table")
