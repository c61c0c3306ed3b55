"""True LocalRelation construction for small driver-side tables.

``spark.createDataFrame(list)`` routes through ``parallelize`` and
yields an RDD-backed DataFrame cut into ``defaultParallelism`` slices:
every collect of it is a real Spark job (measured ~0.2-0.4 s at the
action floor), and a cross join of two of them becomes an N x M-task
CartesianProduct (measured 13.8 s for 50x50 rows at local[32]). A SQL
``VALUES`` list instead parses straight into a ``LocalTableScan``:
collect is driver-only (~0.04 s, no job) and local x local joins are
single-partition. A broadcast of one is NOT free: the broadcast
exchange still runs one Spark job to build the relation (collecting
``spark.range(1000)`` is 1 job; the same collect broadcast-joined to a
2-row local_df is 2).

``local_df`` renders rows as a VALUES clause with explicit CASTs to
the requested DDL schema (so types match ``createDataFrame`` exactly)
for the supported scalar types, and falls back to plain
``createDataFrame`` for anything else or for row sets large enough
that parse time / plan size would bite (serving batches of tens of
thousands of qterm rows). No rows is a typed NULL row filtered by
``WHERE false``: the optimizer folds it to an empty LocalRelation, so
an empty result collects without a job.

``in_list`` renders a ``col IN (...)`` filter the same way: one parsed
expression instead of one py4j literal per value, which is what
``Column.isin`` costs (measured 0.3-0.57 s for a 334-term serving
batch, against ~1 ms parsed). Both push the same ``InSet`` filter into
the parquet scan.

Rendered literals never depend on session conf: strings holding a quote
or a backslash would read differently under
``spark.sql.parser.escapedStringLiterals``, so they are not rendered and
the caller falls back."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import _parse_datatype_string

#: above this many rows the VALUES parse/plan cost outgrows the saved
#: job (and very large literal plans stress the driver) — fall back
MAX_LOCAL_ROWS = 2048


def sql_literal(v) -> str | None:
    """One SQL literal, or None when the value cannot be rendered
    portably (caller falls back to createDataFrame / isin)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return ("CAST('Infinity' AS DOUBLE)" if v > 0
                    else "CAST('-Infinity' AS DOUBLE)")
        # repr round-trips doubles exactly; the D suffix keeps the
        # literal a DOUBLE (a bare 5000.0 parses as DECIMAL)
        return f"{v!r}D"
    if isinstance(v, str):
        # no escape syntax reads the same under both settings of
        # spark.sql.parser.escapedStringLiterals
        if "'" in v or "\\" in v or "\x00" in v:
            return None
        return f"'{v}'"
    return None


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over `rows` with DDL `schema`, as a LocalRelation
    when possible (see module doc), else plain createDataFrame."""
    rows = list(rows)
    if len(rows) > MAX_LOCAL_ROWS:
        return spark.createDataFrame(rows, schema)
    st = _parse_datatype_string(schema)
    n = len(st.fields)
    rendered: list[str] = []
    for r in rows or [(None,) * n]:
        cells = []
        for v in r:
            lit = sql_literal(v)
            if lit is None:
                return spark.createDataFrame(rows, schema)
            cells.append(lit)
        rendered.append("(" + ", ".join(cells) + ")")
    casts = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS {f.name}"
        for i, f in enumerate(st.fields)
    )
    cols = ", ".join(f"c{i}" for i in range(n))
    return spark.sql(
        f"SELECT {casts} FROM (VALUES {', '.join(rendered)}) "
        f"AS t({cols})" + ("" if rows else " WHERE false")
    )


def in_list(col: str, values) -> Column:
    """``col IN (values)`` as one parsed expression (see module doc);
    ``Column.isin`` when any value cannot be rendered portably."""
    values = list(values)
    rendered = [sql_literal(v) for v in values]
    if not values or None in rendered:
        return F.col(col).isin(values)
    return F.expr(f"`{col}` IN ({', '.join(rendered)})")
