"""The one driver-collect gate (``operators.gate``) and its contract."""

import ast
import pathlib

import pandas as pd

from esda_spark.operators import gate

OPERATORS = pathlib.Path(gate.__file__).parent


class _NoJobs:
    """Stands in for a DataFrame that must never be counted or collected."""

    def count(self):
        raise AssertionError("count() ran")

    def toPandas(self):
        raise AssertionError("toPandas() ran")


class _Known(_NoJobs):
    """A frame whose size the caller already knows: collect, never count."""

    def toPandas(self):
        return pd.DataFrame({"id": [0, 1, 2]})


def test_collect_within_at_limit_and_limit_plus_one(spark):
    limit = 7
    got = gate.collect_within(spark.range(limit), limit)
    assert isinstance(got, pd.DataFrame)
    assert sorted(got["id"]) == list(range(limit))
    assert gate.collect_within(spark.range(limit + 1), limit) is None


def test_collect_within_zero_limit_never_collects():
    assert gate.collect_within(_NoJobs(), 0) is None
    assert gate.collect_within(_NoJobs(), 0, size=0) is None
    assert not gate.fits(0, 0)


def test_collect_within_known_size_skips_count():
    assert len(gate.collect_within(_Known(), 3, size=3)) == 3
    assert gate.collect_within(_Known(), 3, size=4) is None


def test_operators_read_no_environment():
    """Budgets are plain constants in gate.py; no operator has a knob."""
    offenders = []
    for path in sorted(OPERATORS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name) else None)
            if name in ("environ", "getenv", "putenv"):
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []
