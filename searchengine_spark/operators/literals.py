"""Driver-side values inlined into a plan as SQL literals.

A frame built with ``spark.createDataFrame(<python rows>)`` is a Python RDD
relation: running it starts a pyspark worker pool of its own, beside the
one the pandas UDFs use, so a session that mixes both holds two daemons
and two sets of workers. The query's few terms, flags and weights, an
ingest's per-bucket offsets and the empty typed results all fit in the
plan instead, as one SQL expression the JVM evaluates by itself.

These helpers are for driver-sized data: the query, the request's <=k
winners, a bucket count. The whole frame is one expression that Catalyst
analyses and folds, so its cost grows with the row count (about 0.3 ms a
row on a 4-core host); :func:`local_frame` refuses more than
``MAX_LOCAL_ROWS`` rows. Corpus-sized data belongs in a table.

The SQL parser expands ``${...}`` variables over its whole input, string
literals included (``${spark.app.name}``, ``${env:HOME}``): a raw ``$``
would let a request's text read the session's configuration or the
server's environment. :func:`sql_literal` writes ``$`` as the escape
``\\u0024``, which the parser's string unescaping turns back into ``$``
after that pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_LOCAL_ROWS = 10_000


def sql_literal(x) -> str:
    """``x`` as a Spark SQL literal of its exact value: NULL, a boolean, a
    string, a bigint, a double parsed back from its round-trip ``repr``, or
    an array of those. Strings come back verbatim: no ``${...}`` in them
    is expanded."""
    if x is None:
        return "NULL"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, str):
        return "'" + x.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"
    if isinstance(x, float):
        return f"CAST('{x!r}' AS DOUBLE)"
    if isinstance(x, (list, tuple)):
        return "array(" + ", ".join(map(sql_literal, x)) + ")"
    return f"{int(x)}L"


def literal_map(pairs: dict, map_type: str | None = None) -> Column:
    """A driver dict inlined into the plan as one literal map, looked up
    with ``literal_map(d)[col]``: the few entries ride in the expression
    instead of a driver-built frame behind a broadcast join. Built as one
    SQL expression — one JVM call, where a ``lit`` per entry costs a round
    trip each. ``map_type`` (``"map<int,bigint>"``) casts the map to that
    type; pass it where ``pairs`` may be empty, since ``map()`` alone is
    ``map<void,void>`` and no key type can look it up."""
    entries = ", ".join(f"{sql_literal(k)}, {sql_literal(v)}" for k, v in pairs.items())
    expr = f"map({entries})"
    return F.expr(f"CAST({expr} AS {map_type})" if map_type else expr)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; empty for an empty frame) as a
    frame of the DDL ``schema``, every column nullable — what
    ``spark.createDataFrame(rows, schema)`` returns, evaluated in the JVM:
    one ``inline`` over a literal array of structs. More than
    ``MAX_LOCAL_ROWS`` rows raise ``ValueError``."""
    rows = list(rows)
    if len(rows) > MAX_LOCAL_ROWS:
        raise ValueError(
            f"local_frame: {len(rows)} rows > MAX_LOCAL_ROWS={MAX_LOCAL_ROWS}; "
            "driver rows this many belong in a table"
        )
    struct = T._parse_datatype_string(schema)
    types = [f.dataType.simpleString() for f in struct.fields]
    elems = ", ".join(
        "struct("
        + ", ".join(f"CAST({sql_literal(v)} AS {t})" for v, t in zip(row, types, strict=True))
        + ")"
        for row in rows
    )
    return spark.sql(
        f"SELECT inline(CAST(array({elems}) AS {T.ArrayType(struct).simpleString()}))"
    )
