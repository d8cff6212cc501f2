"""Session defaults from `get_spark`, and the driver entry's registry."""

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


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    """`scripts/validate_entry.py` fails a query without oracle SQL; an
    oracle without a query would never run."""
    import __spark_entry__

    assert set(__spark_entry__.queries()) == set(__spark_entry__.oracle_sql())


def test_local_cores_defaults_to_cpu_affinity(monkeypatch):
    """One default core count for get_spark and bench.py: the CPUs this
    process may run on, unless SPARK_GRAFT_CPUS says otherwise."""
    from graph_data_science_spark.session import local_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3
