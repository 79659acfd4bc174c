"""catalog.local_frame: driver rows become a JVM LocalTableScan with exactly
the DDL's schema, and it is the package's only way to build one."""

from __future__ import annotations

import ast
import pathlib

import pytest

from yfinance_etl_spark.catalog import local_frame

_PKG = pathlib.Path(__file__).resolve().parents[1] / "yfinance_etl_spark"


def test_rows_and_schema_match_the_ddl(spark):
    rows = [(1, "a", [1.5, -2.0]), (2, "b", [])]
    df = local_frame(spark, rows, "id int, name string, vec array<double>")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert df.schema.simpleString() == "struct<id:int,name:string,vec:array<double>>"
    assert [tuple(r) for r in df.collect()] == rows


def test_empty_rows_keep_the_schema(spark):
    df = local_frame(spark, [], "k string, v bigint")
    assert df.schema.simpleString() == "struct<k:string,v:bigint>"
    assert df.collect() == []


def test_null_values_and_null_array_elements(spark):
    rows = [(None, [1.0, None]), (3.0, None)]
    df = local_frame(spark, rows, "x double, vec array<double>")
    assert [tuple(r) for r in df.collect()] == rows


def test_bigint_above_int32_range_round_trips(spark):
    big = 2**31 + 7
    df = local_frame(spark, [(big,), (-(2**40),)], "id bigint")
    assert [r.id for r in df.collect()] == [big, -(2**40)]


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("x",)], "v double"),  # str where a double belongs
        ([(1.5,)], "v bigint"),  # float would truncate to 1
        ([(2**31,)], "v int"),  # past the int range
        ([(1,)], "v string"),  # int would stringify
        ([([1.0, "x"],)], "v array<double>"),
    ],
)
def test_wrong_typed_value_raises(spark, rows, ddl):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, ddl)


def test_rows_of_different_lengths_raise(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2), (3,)], "a int, b int")


def _rdd_table_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("createDataFrame", "parallelize")
    ]


def test_local_frame_is_the_only_way_to_build_driver_tables():
    """A ``createDataFrame`` (or ``parallelize``) call anywhere else in the
    package would bring back a Python-RDD table, whose every read starts
    one Python worker task per core."""
    outside = []
    for path in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        calls = _rdd_table_calls(tree)
        if path == _PKG / "catalog.py":
            helper = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            calls = [c for c in calls if c not in _rdd_table_calls(helper)]
        outside += [f"{path.relative_to(_PKG)}:{c.lineno}" for c in calls]
    assert outside == [], outside
