"""Fixtures for the benchmark's own tests: one small Spark session and one
set of generated inputs per test session."""

from __future__ import annotations

import os

import pytest

from perfbench import gen


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from data_lakehouse_hygiene_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def inputs(tmp_path_factory):
    return gen.generate(str(tmp_path_factory.mktemp("inputs")), 11, 0.002, 2, 0.01)
