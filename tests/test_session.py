"""Session defaults from `get_spark`."""

import os

import graph_data_science_spark


def test_workers_find_the_package_from_any_cwd(spark):
    """Python workers (Arrow UDFs) get the package's parent directory first
    on their PYTHONPATH, then whatever PYTHONPATH the driver already had."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(graph_data_science_spark.__file__)))
    value = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    inherited = os.environ.get("PYTHONPATH")
    assert value == (root + os.pathsep + inherited if inherited else root)
    assert spark.sparkContext.environment["PYTHONPATH"] == value
