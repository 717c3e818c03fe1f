"""localrel.local_df: driver-local frames are typed Arrow tables whose
JVM frame is a LocalRelation built on demand.

Every frame, a 0-row one included, must plan as a LocalTableScan whose
collect launches no Spark job; values keep their DDL types exactly (a
nullable long never passes through float64), and a value that does not
fit its type raises instead of falling back to another path. A
LocalFrame's collect()/toArrow()/count() read the table in Python and
must return exactly what the JVM frame of the same table returns; JVM
operators on it must return the JVM frame's rows."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.session import SparkSession

from sparkbm25.localrel import LocalFrame, local_df


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


# --- LocalFrame vs the JVM frame of the same table -------------------------

def _no_create(monkeypatch):
    """Make building a JVM frame raise: the local reads must not need one."""
    def refuse(*a, **kw):
        raise AssertionError("createDataFrame called")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)


def _jvm(spark, df: LocalFrame):
    jdf = spark.createDataFrame(df.toArrow(), df.schema)
    assert not isinstance(jdf, LocalFrame)
    return jdf


def _assert_identical(spark, df: LocalFrame, monkeypatch):
    jdf = _jvm(spark, df)
    want_rows, want_arrow = jdf.collect(), jdf.toArrow()
    want_count, want_schema = jdf.count(), jdf.schema
    with monkeypatch.context() as m:
        _no_create(m)
        rows, arrow, count = df.collect(), df.toArrow(), df.count()
        schema, columns = df.schema, df.columns
    assert "_jdf" not in vars(df)  # no JVM frame was built
    assert rows == want_rows and count == want_count == len(rows)
    assert schema == want_schema and columns == want_schema.names
    assert arrow.equals(want_arrow) and arrow.schema == want_arrow.schema
    for got, want in zip(rows, want_rows):
        assert type(got) is type(want)
        assert got.__fields__ == want.__fields__
        assert got.asDict() == want.asDict()
        assert [type(v) for v in got] == [type(v) for v in want]
        # float equality hides the sign of zero; compare the bits
        assert [math.copysign(1.0, v) for v in got if isinstance(v, float)] \
            == [math.copysign(1.0, v) for v in want if isinstance(v, float)]


def _tops_rows():
    """Top-k shaped rows: score ties, ids >= 2**40, -0.0 and adjacent
    doubles."""
    x = 1.2345678901234567
    return [
        (0, 1, 2**40, x),
        (0, 2, 2**40 + 1, x),  # tie
        (0, 3, 2**53 + 7, math.nextafter(x, 0.0)),
        (1, 1, 3, 0.0),
        (1, 2, 2**62, -0.0),
        (2, 1, 5, math.nextafter(0.0, 1.0)),
        (2, 2, 6, 1.7976931348623157e308),
    ]


TOPS = "query_id int, rank int, doc_id long, score double"


def test_local_frame_tops_identical_to_jvm(spark, monkeypatch):
    _assert_identical(spark, local_df(spark, _tops_rows(), TOPS),
                      monkeypatch)


def test_local_frame_nullable_long_and_array_identical(spark, monkeypatch):
    df = local_df(
        spark,
        [(0, 2**60 + 1, ["a", "b"]), (1, None, []), (2, -2**41, ["ß"])],
        "k int, v long, toks array<string>",
    )
    _assert_identical(spark, df, monkeypatch)
    assert [r.v for r in df.collect()] == [2**60 + 1, None, -2**41]


def test_local_frame_empty_identical(spark, monkeypatch):
    df = local_df(spark, [], TOPS)
    _assert_identical(spark, df, monkeypatch)
    assert df.collect() == [] and df.count() == 0
    assert df.toArrow().num_rows == 0


def test_local_frame_jvm_operators_match_jvm_frame(spark):
    df = local_df(spark, _tops_rows(), TOPS)
    jdf = _jvm(spark, df)
    other = spark.createDataFrame(
        [(2**40, "a"), (2**62, "b"), (6, "c")], "doc_id long, tag string"
    )

    def same(op):
        got, want = op(df).collect(), op(jdf).collect()
        assert sorted(got) == sorted(want) and got, op

    same(lambda d: d.filter(F.col("score") > 0.5))
    same(lambda d: d.join(other, "doc_id"))
    same(lambda d: other.join(F.broadcast(d), "doc_id", "left"))
    same(lambda d: d.union(d))
    same(lambda d: d.unionByName(jdf))
    # orderBy keeps its order: compare as lists
    order = [F.col("query_id"), F.col("score").desc(), F.col("doc_id")]
    assert df.orderBy(*order).collect() == jdf.orderBy(*order).collect()
    # the JVM frame is built once, on first use, and is a LocalRelation
    assert "_jdf" in vars(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
