"""Driver-local DataFrames: typed Arrow tables that reach the JVM only
when a JVM operator needs them.

``spark.createDataFrame(list_of_rows)`` in classic PySpark pickles the
rows into a ``parallelize()``d RDD; every action over it then evaluates a
PythonRDD, which takes a python worker from a factory SEPARATE from the
Arrow runners' (the two runner kinds key their worker pools differently).
Two costs follow (measured r07 on the bench host):

- one-time: the first such action in a session boots a second python
  daemon and its worker pool while every task thread of the stage blocks
  in ``SparkEnv.createPythonWorker`` — the first 100-query batch paid a
  uniform ~1.6 s per task (3x the steady-state stage time) with every
  task thread parked in that call;
- steady-state: each action pays a JVM->python->JVM round trip to scan a
  frame of a few hundred bytes.

A driver-local frame is a LocalFrame instead: a typed ``pyarrow.Table``
plus its StructType. ``collect()``, ``toArrow()`` and ``count()`` read
the table in this process, and ``.schema``/``.columns`` read the
StructType, so none of them touches the JVM. Every other method (joins,
filters, ``orderBy``, writes, ``explain``, ``_jdf.queryExecution()``)
reaches ``_jdf``, which is built on first access through
``spark.createDataFrame(table, schema)`` — a true ``LocalRelation``:
pure JVM, zero python workers and zero Spark jobs on collect, and the
optimizer sees concrete rows (so broadcast-size estimation is exact).
The Arrow columns are typed from the DDL, not inferred by pandas, so a
0-row frame is a LocalRelation too (PySpark skips Arrow for an empty
pandas frame) and a nullable long never passes through float64. Values
take no text detour on either path, so doubles stay bit-identical.
"""

from __future__ import annotations

from functools import cached_property

import pyarrow as pa
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import Row, StructType, _create_row


class LocalFrame(DataFrame):
    """A DataFrame over a driver-resident typed ``pyarrow.Table``.

    ``collect()``, ``toArrow()`` and ``count()`` read the table and
    ``.schema`` is the table's StructType, set up front; they return what
    the JVM frame of the same table returns. The JVM frame, ``_jdf``, is
    built on first access and cached; every other DataFrame method goes
    through it unchanged."""

    def __new__(cls, spark, table: pa.Table):
        # the base __new__ calls __init__ with a JVM frame
        return object.__new__(cls)

    def __init__(self, spark, table: pa.Table):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._schema = from_arrow_schema(table.schema)
        # the layout the JVM frame's toArrow() returns (list items are
        # named "element", not pyarrow's "item")
        self._table = table.cast(to_arrow_schema(self._schema))

    @cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table, self._schema)._jdf

    @property
    def schema(self) -> StructType:
        return self._schema

    def collect(self) -> list[Row]:
        names = self._schema.names
        cols = [c.to_pylist() for c in self._table.columns]
        return [_create_row(names, vals) for vals in zip(*cols)]

    def toArrow(self) -> pa.Table:
        return self._table

    def count(self) -> int:
        return self._table.num_rows


# the DDL types local_df callers use; anything else is refused
_ARROW_TYPES = {
    "int": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
}


def _arrow_type(ddl: str) -> pa.DataType:
    t = ddl.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(_arrow_type(t[6:-1]))
    if t not in _ARROW_TYPES:
        raise ValueError(f"local_df: unsupported DDL type {ddl!r}")
    return _ARROW_TYPES[t]


def _ddl_fields(schema: str) -> list[tuple[str, pa.DataType]]:
    """(name, Arrow type) per top-level field of a DDL schema string
    ("a int, b array<string>"): split on commas outside <...> nesting,
    then on the first space."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            field = schema[start:i].strip()
            if field:
                name, _, typ = field.partition(" ")
                fields.append((name, _arrow_type(typ)))
            start = i + 1
    return fields


def local_df(spark, rows, schema: str):
    """Small driver-local DataFrame from ``rows`` (iterable of tuples)
    under a DDL ``schema`` string: a LocalFrame over a pyarrow table
    typed by the DDL. A value that does not fit its column
    type raises (pyarrow's ArrowInvalid/ArrowTypeError/OverflowError)."""
    fields = _ddl_fields(schema)
    rows = list(rows)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(fields)
    if len(cols) != len(fields):
        raise ValueError(
            f"local_df: rows have {len(cols)} columns, schema {schema!r} "
            f"has {len(fields)}"
        )
    table = pa.table(
        [pa.array(c, type=t) for c, (_, t) in zip(cols, fields)],
        names=[n for n, _ in fields],
    )
    return LocalFrame(spark, table)
