"""session.local_frame: the one builder of driver-side tables (agent
requests, the extract template, manifest rows) — schema fidelity, nulls,
zero rows, and strict typing."""

import pytest
from pyspark.sql.types import StructType

from citykg.schema import MANIFEST_SCHEMA
from citykg.session import local_frame


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ddl_and_struct_schemas_agree(spark):
    rows = [("a", 1, 2.5), ("b", 2, None)]
    ddl = "s string, i int, d double"
    by_ddl = local_frame(spark, rows, ddl)
    by_struct = local_frame(spark, rows, StructType.fromDDL(ddl))
    assert by_ddl.schema == by_struct.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in by_ddl.collect()] == rows
    assert by_ddl.collect() == by_struct.collect()
    assert "LocalRelation" in _plan(by_ddl) and "LogicalRDD" not in _plan(by_ddl)


def test_manifest_schema_keeps_non_nullable_fields(spark):
    df = local_frame(spark, [("materialize", "3", "", 7, "done", 1, 0)], MANIFEST_SCHEMA)
    assert df.schema == MANIFEST_SCHEMA
    assert [f.name for f in df.schema if not f.nullable] == ["stage", "partition_range"]
    assert df.collect()[0]["row_count"] == 7


def test_null_in_a_non_nullable_field_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(None, "3", "", 7, "done", 1, 0)], MANIFEST_SCHEMA)


def test_none_in_int_and_long_columns(spark):
    df = local_frame(spark, [(None, None), (3, 2**40)], "i int, l long")
    assert [tuple(r) for r in df.collect()] == [(None, None), (3, 2**40)]
    assert df.where("i IS NULL").count() == 1


def test_zero_rows_give_an_empty_frame_with_the_schema(spark):
    df = local_frame(spark, [], MANIFEST_SCHEMA)
    assert df.schema == MANIFEST_SCHEMA
    assert df.count() == 0
    assert local_frame(spark, [], "x string").collect() == []


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(2**40,)], "i int"),  # overflows int32
        ([(1.5,)], "i int"),  # would truncate to 1
        ([(2.0,)], "l long"),  # a float is not an integer value
        ([("3",)], "i int"),  # no string-to-number parsing
        ([(3,)], "s string"),  # no number-to-string formatting
    ],
)
def test_a_value_that_does_not_fit_raises(spark, rows, ddl):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, ddl)


def test_row_width_must_match_the_schema(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1)], "s string")
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "s string, i int")
