"""Small driver-built relations as JVM ``LocalRelation``s.

Command results, check results and log metadata are a handful of rows
the driver already holds.  ``spark.createDataFrame(small_list)``
pickles them into a Python RDD, so every action over the frame starts
a Python-worker job (0.3-0.6 s warm, ~2 s when it is the process's
first worker).  A ``LocalRelation`` lives in the plan itself: collecting
it runs no Spark job at all, and its row count is visible to plan
audits (``LocalTableScanExec``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    _parse_datatype_string,
)


def _has_struct_or_map(dt: DataType) -> bool:
    if isinstance(dt, ArrayType):
        return _has_struct_or_map(dt.elementType)
    return isinstance(dt, (MapType, StructType))


def literal_rows_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """``rows`` (tuples or ``Row``s, in ``schema`` field order) as a
    DataFrame whose schema is exactly the DDL ``schema`` (every column
    nullable, as DDL parsing declares it).

    Flat schemas (atomic columns and arrays of them) plan as a
    ``LocalRelation``: the rows go into one parameterised
    ``VALUES`` table, each cell ``CAST(:p AS <type>)`` of a bound
    literal, so no value is ever spliced into SQL text.  A final
    all-NULL row under ``LIMIT len(rows)`` makes every column nullable
    and gives the empty case its typed columns; the optimizer folds
    the limit into the relation.  Struct and map columns fall back to
    ``createDataFrame``.  Bounded-size relations only — never use this
    for data-sized rows."""
    st = _parse_datatype_string(schema)
    if any(_has_struct_or_map(f.dataType) for f in st.fields):
        return spark.createDataFrame(rows, st)
    types = [f.dataType.simpleString() for f in st.fields]
    args: dict = {}
    values = []
    for row in rows:
        cells = []
        for v, t in zip(tuple(row), types):
            name = f"p{len(args)}"
            if isinstance(v, (list, tuple)):
                # F.lit([]) cannot infer an element type
                v = F.lit(list(v)) if v else F.array()
            args[name] = v
            cells.append(f"CAST(:{name} AS {t})")
        values.append(f"({', '.join(cells)})")
    values.append(f"({', '.join(f'CAST(NULL AS {t})' for t in types)})")
    names = ", ".join(f"`{f.name.replace('`', '``')}`" for f in st.fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(values)} AS t({names}) "
        f"LIMIT {len(rows)}",
        args=args,
    )
