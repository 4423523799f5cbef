from __future__ import annotations

import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from zacks_estimates_financial_statements_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="zacks-spark-tests",
                      master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4",
                                  "spark.ui.enabled": "false"})
    yield spark


@pytest.fixture(scope="session")
def entry():
    """The ``__spark_entry__`` module: the query registry."""
    spec = importlib.util.spec_from_file_location(
        "entry_for_tests", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def persisted(spark):
    """Ids of the session's persisted RDDs (caches and local
    checkpoints) at call time."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
