"""Driver-local DataFrames as JVM LocalRelations (no python workers).

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

Converting through an Arrow table instead yields a true ``LocalRelation``:
pure JVM, zero python workers, and the optimizer sees concrete rows (so
broadcast-size estimation is exact). Values round-trip through Arrow
without a text detour, so doubles stay bit-identical.
"""

from __future__ import annotations


def local_df(spark, rows, schema: str):
    """Small driver-local DataFrame from ``rows`` (iterable of tuples)
    under a DDL ``schema`` string, built as a JVM LocalRelation from a
    ``pyarrow.Table`` typed by that schema. Each column converts straight
    from the Python values to its declared Arrow type, so a nullable long
    stays an exact int64 (a pandas frame would widen it to float64 and
    round values past 2**53); a value the type cannot hold raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)
