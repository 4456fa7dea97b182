"""Driver-side frames: bounded reads of small inputs and frames built from
driver data.

A request that plans on the driver (the AOI batch of a zonal query, the
points of a kNN lookup) needs its input rows there, but only when they
are few. :func:`read_bounded` brings them over in ONE query that also
decides the bound, so the input is scanned once whether it fits or not.
That matters because inputs built with ``createDataFrame(list)`` are
RDDs of pickled Python rows: every scan of them is a Python job.

:func:`local_frame` goes the other way. A frame made from driver data
through Arrow plans as a ``LocalRelation``, which Spark collects and
broadcasts without running a job; ``createDataFrame(list)`` would make
another pickled-row RDD.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_bounded(
    df: DataFrame,
    cols: list,
    max_rows: int,
    bytes_col: str | None = None,
    max_bytes: int | None = None,
) -> list | None:
    """The ``cols`` rows of ``df`` (``Row``s with extra ``_ok`` and
    ``_first`` fields) when there are at most ``max_rows`` of them (and,
    with ``bytes_col``, their lengths sum to at most ``max_bytes``);
    otherwise None.

    One query: a limit of ``max_rows + 1`` rows gathered into a single
    partition, where window totals decide the bound. Within it every row
    comes back; over it only one row with its payload nulled comes back,
    so no over-bound value reaches the driver. Under AQE that is one job
    to scan ``df`` plus one JVM-only job for the single partition."""
    whole = Window.partitionBy()
    ok = F.count(F.lit(1)).over(whole) <= max_rows
    if bytes_col is not None:
        ok = ok & (F.coalesce(F.sum(F.length(bytes_col)).over(whole), F.lit(0)) <= max_bytes)
    first = F.row_number().over(Window.orderBy(cols[0])) == 1
    rows = (
        df.select(*cols)
        .limit(max_rows + 1)
        .select(*[F.when(ok, F.col(c)).alias(c) for c in cols], ok.alias("_ok"), first.alias("_first"))
        .filter(F.col("_ok") | F.col("_first"))
        .collect()
    )
    if rows and not rows[0]["_ok"]:
        return None
    return rows


def local_frame(spark: SparkSession, columns, schema=None) -> DataFrame:
    """A ``LocalRelation`` frame from driver columns ``{name: values}``
    (lists or numpy arrays), a pandas frame or an Arrow table. The Arrow
    types are inferred, then cast to ``schema`` (a ``StructType``) when it
    is given; a value the cast would change raises instead of falling back
    to a pickled-row frame. The table goes over as one record batch:
    PySpark 4.1.2's ``createDataFrame`` drops every row after a zero-row
    batch that follows a non-empty one, and fails on a list column with no
    batch at all."""
    table = pa.table(columns).combine_chunks()
    return spark.createDataFrame(table if table.num_rows else table.schema.empty_table(), schema)
