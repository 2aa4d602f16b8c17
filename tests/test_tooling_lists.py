"""The query-name lists in the tooling scripts must name registered
queries: ``check_oracle.py --stress`` exits 1 on an unknown name and
``bench.py`` would raise a ``KeyError`` mid-run. Both modules import
without starting Spark."""

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stress_queries_are_registered():
    stress = _check_oracle().STRESS_QUERIES
    assert sorted(set(stress) - set(entrymod.queries())) == []


def test_bench_driver_queries_are_registered():
    names = bench._DRIVER_TABLE_QUERIES
    assert sorted(set(names) - set(entrymod.queries())) == []
