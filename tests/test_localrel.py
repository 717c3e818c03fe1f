"""localrel.local_df: driver-local frames are typed Arrow LocalRelations.

Every frame, a 0-row one included, must plan as a LocalTableScan whose
collect launches no Spark job; values keep their DDL types exactly (a
nullable long never passes through float64), and a value that does not
fit its type raises instead of falling back to another path."""

import pytest

from sparkbm25.localrel import local_df


def test_empty_frame_is_local_and_jobless(spark, spark_jobs):
    df = local_df(spark, [], "query_id int, rank int, doc_id long, "
                             "score double")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "int", "bigint", "double"
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    rows, jobs = spark_jobs(df.collect)
    assert rows == [] and jobs == []


def test_nullable_long_round_trips_exactly(spark, spark_jobs):
    big = 2**60 + 1  # not representable in float64
    df = local_df(spark, [(1, big), (2, None), (3, -big)],
                  "k int, v long")
    rows, jobs = spark_jobs(df.collect)
    assert [(r.k, r.v) for r in rows] == [(1, big), (2, None), (3, -big)]
    assert jobs == []


def test_array_of_string_column(spark):
    df = local_df(spark, [(0, ["a", "b"]), (1, [])],
                  "query_id int, qtoks array<string>")
    assert df.schema["qtoks"].dataType.simpleString() == "array<string>"
    assert [(r.query_id, r.qtoks) for r in df.collect()] == [
        (0, ["a", "b"]), (1, [])
    ]


def test_doubles_keep_their_bits(spark):
    vals = [0.1 + 0.2, 1 / 3, 5e-324, 1.7976931348623157e308]
    df = local_df(spark, [(v,) for v in vals], "x double")
    assert [r.x for r in df.collect()] == vals


def test_values_that_do_not_fit_raise(spark):
    with pytest.raises(Exception, match="too large|overflow|Overflow"):
        local_df(spark, [(2**40,)], "a int")
    with pytest.raises(Exception):
        local_df(spark, [("x",)], "a long")
    with pytest.raises(ValueError, match="columns"):
        local_df(spark, [(1, 2)], "a int")
    with pytest.raises(ValueError):
        local_df(spark, [(1, 2), (3,)], "a int, b int")
    with pytest.raises(ValueError, match="unsupported"):
        local_df(spark, [], "m map<string,int>")
