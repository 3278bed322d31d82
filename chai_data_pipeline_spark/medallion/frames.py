"""Driver-built tables (``_lineage``, ``_dq_logs``, ``daily_aggregates``)
as one-partition frames of typed literals."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def literal_frame(
    spark: SparkSession, schema: StructType, rows: Sequence[Sequence]
) -> DataFrame:
    """``rows`` (value tuples in ``schema`` order) as a frame with
    ``schema``'s names and types, in one partition, so it lands as one
    file. It is planned from ``spark.range``, so running it needs no
    Python worker; ``createDataFrame`` of a list starts one."""

    def struct(row: Sequence) -> Column:
        return F.struct(*[
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(row, schema.fields, strict=True)
        ])

    # an empty frame still needs one typed row to carry the schema
    typed = [struct(r) for r in rows] or [struct([None] * len(schema))]
    frame = spark.range(1, numPartitions=1).select(F.inline(F.array(*typed)))
    return frame if rows else frame.limit(0)
