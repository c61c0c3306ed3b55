"""True LocalRelation construction for small driver-side tables.

``spark.createDataFrame(list)`` routes through ``parallelize`` and
yields an RDD-backed DataFrame cut into ``defaultParallelism`` slices:
every collect of it is a real Spark job (measured ~0.2-0.4 s at the
action floor), and a cross join of two of them becomes an N x M-task
CartesianProduct (measured 13.8 s for 50x50 rows at local[32]).
``spark.createDataFrame(pa.Table)`` instead ships the rows to the JVM
as Arrow batches and plans a ``LocalTableScan``: collecting it, or a
projection or filter over it (which the optimizer folds into the local
relation), is driver-only with no job at any size, and local x local
joins are single-partition. A broadcast of one is NOT free: the
broadcast exchange still runs one Spark job to build the relation
(collecting ``spark.range(1000)`` is 1 job; the same collect
broadcast-joined to a 2-row local_df is 2).

``local_df`` builds that Arrow table from Python rows and a DDL schema.
Measured on a 4-vCPU host at local[2] against the SQL ``VALUES``
rendering it replaced: 10 rows 29-34 ms vs 51-59 ms; 1,000 rows 32-38
ms vs 153-171 ms; 25,600 rows 202-232 ms and no job, vs 645-662 ms and
one job (``VALUES`` fell back to ``parallelize`` above 2,048 rows).
Values never pass through the SQL parser, so no string needs escaping.

``in_list`` renders a ``col IN (...)`` filter as one parsed
expression instead of one py4j literal per value, which is what
``Column.isin`` costs (measured 0.3-0.57 s for a 334-term serving
batch, against ~1 ms parsed). Both push the same ``InSet`` filter into
the parquet scan.

Rendered literals never depend on session conf: strings holding a quote
or a backslash would read differently under
``spark.sql.parser.escapedStringLiterals``, so they are not rendered and
in_list falls back to ``Column.isin``."""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import _parse_datatype_string


def sql_literal(v) -> str | None:
    """One SQL literal, or None when the value cannot be rendered
    portably (the caller falls back to a py4j literal)."""
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


@functools.lru_cache(maxsize=64)
def _schemas(ddl: str):
    """(StructType, Arrow schema) of a DDL string, parsed once per
    process: parsing is a JVM round trip, the results plain Python."""
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _parse_datatype_string(ddl)
    return st, to_arrow_schema(st)


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A local relation over `rows` (tuples) with DDL `schema`: an Arrow
    table handed to createDataFrame (module doc)."""
    import pyarrow as pa

    st, ast = _schemas(schema)
    cols = list(zip(*rows)) or [()] * len(st.fields)
    return spark.createDataFrame(
        pa.table([pa.array(c, type=f.type) for c, f in zip(cols, ast)],
                 schema=ast), st)


def in_list(col: str, values) -> Column:
    """``col IN (values)`` as one parsed expression (see module doc);
    ``Column.isin`` when any value cannot be rendered portably."""
    values = list(values)
    rendered = [sql_literal(v) for v in values]
    if not values or None in rendered:
        return F.col(col).isin(values)
    return F.expr(f"`{col}` IN ({', '.join(rendered)})")
