"""Tiny driver-side literal DataFrames that plan as LocalTableScan.

``spark.createDataFrame(list_of_rows, schema)`` parallelizes the rows
into ``defaultParallelism`` slices and plans as ``Scan ExistingRDD`` —
so every consumer (a broadcast build, the bench's consume aggregate, a
join spine) launches a 32-task job to read a handful of literals.
Measured at sf0.1: 0.4-0.6 s of pure tiny-task scheduling per query
that ships a centroid table, bucket spine or trajectory frame this
way (guide §1/§5 — the driver should not schedule a cluster job to
move k rows it already holds).

Routing the same rows through a pandas DataFrame + the session's Arrow
conversion instead plans a ``LocalTableScan``: broadcasts materialize
driver-side with ZERO jobs, and scans of the frame are one task. The
declared schema is still enforced by createDataFrame, so column types
are unchanged — only the physical plan shape differs. Any payload the
Arrow conversion cannot coerce falls back to the plain path (Spark
itself also falls back internally), so this is never a correctness
risk.

Value fidelity: columns are materialized as object-dtype pandas Series
built directly from the caller's values — no pandas dtype inference —
so a ``None`` stays SQL NULL and nullable ints never round-trip
through float64. A literal ``float('nan')`` payload CANNOT survive the
Arrow hop (``pyarrow.Array.from_pandas`` converts NaN to null at every
nesting level, by design), so any frame carrying a NaN falls back to
the plain ``createDataFrame`` path, which preserves it — NaN and NULL
have different SQL semantics and must never be conflated silently
(the previous blanket NaN→None scrub did exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _carries_nan(value) -> bool:
    """True if a cell holds a float NaN at any depth of lists,
    tuples/Rows and dict values — the payload the Arrow hop would
    silently rewrite to null."""
    if isinstance(value, float):
        return value != value
    if isinstance(value, dict):
        value = value.values()
    elif not isinstance(value, (list, tuple)):
        return False
    return any(_carries_nan(x) for x in value)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` that plans as
    LocalTableScan for small driver-resident row lists.

    ``rows``: list of tuples (or dicts keyed by field name).
    ``schema``: DDL string or StructType — required, so the pandas hop
    can never change the declared column types.
    """
    import pandas as pd

    rows = list(rows)
    try:
        from pyspark.sql.types import StructType

        if isinstance(schema, StructType):
            names = schema.fieldNames()
        else:
            # private API: inside the try so a future rename degrades
            # to the plain createDataFrame path instead of ImportError
            from pyspark.sql.types import _parse_datatype_string

            names = _parse_datatype_string(schema).fieldNames()
        cols = {n: [] for n in names}
        for r in rows:
            if isinstance(r, dict):
                for n in names:
                    cols[n].append(r.get(n))
            else:
                for n, v in zip(names, r):
                    cols[n].append(v)
        if any(_carries_nan(v) for vs in cols.values() for v in vs):
            return spark.createDataFrame(rows, schema)
        pdf = pd.DataFrame(
            {n: pd.Series(v, dtype=object) for n, v in cols.items()},
            columns=names,
        )
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:  # noqa: BLE001 — payload Arrow can't coerce
        return spark.createDataFrame(rows, schema)
