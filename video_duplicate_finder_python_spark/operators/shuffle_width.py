"""The one shuffle-width rule: one partition per ~``rows_per_part`` rows,
ceilinged by the session width.

An exchange costs an M×R matrix of shuffle blocks (map tasks × reduce
partitions; *Hyper Dimension Shuffle*, VLDB'19), and at a few rows per
partition that fixed cost dominates — measured: a 64-wide exchange of
116k rows cost 0.86 s against 0.20 s at width 8. So a stage whose input
size is known sizes its shuffle to the data, and an input big enough to
fill the session width keeps it. Each caller picks the ``rows_per_part``
that amortizes one task's fixed cost for its kernel. The session conf is
only read here, never written: a narrowed width is applied by per-plan
``repartition``, so concurrent jobs on the session keep their width.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def shuffle_width(
    spark: SparkSession, n_rows: int | None, rows_per_part: int
) -> int:
    """``min(session width, n_rows // rows_per_part + 1)``; the session
    width itself when ``n_rows`` is None (size unknown). The session width
    is ``spark.sql.shuffle.partitions``, or ``defaultParallelism`` when
    that is not numeric (e.g. ``auto`` on managed platforms)."""
    try:
        ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        ceiling = spark.sparkContext.defaultParallelism
    if n_rows is None:
        return ceiling
    return min(ceiling, n_rows // rows_per_part + 1)


def narrowed_width(
    spark: SparkSession, n_rows: int | None, rows_per_part: int
) -> int | None:
    """``shuffle_width`` when it is below the session width, else None:
    the caller then leaves its plan untouched, so a large input never sees
    a narrowed shuffle."""
    width = shuffle_width(spark, n_rows, rows_per_part)
    return width if width < shuffle_width(spark, None, rows_per_part) else None
