"""Driver-side frames that plan as a ``LocalTableScan``.

``spark.createDataFrame(list)`` builds a PythonRDD: every scan of the
frame deserializes its rows again in Python workers, one per slice,
even when the list is empty. A frame built from a ``pyarrow.Table``
holds its rows in the plan instead, so scanning it starts no Python
worker. The engine builds every small driver-side frame it scans (seed
and recrawl URL lists, the crawl-delay table, empty store reads) here.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["local_frame"]

# rows per slice: a few thousand URLs of Python work per task keeps a
# large list parallel without paying one task per core for a short one
ROWS_PER_SLICE = 4096


def local_frame(
    spark: SparkSession,
    ddl: str,
    columns: Optional[Mapping[str, Sequence]] = None,
) -> DataFrame:
    """DataFrame with schema ``ddl`` over driver-side column lists
    (``{name: values}``; a column left out, or ``columns=None``, is
    empty). The frame is coalesced to ``len // ROWS_PER_SLICE + 1``
    slices, so a Python stage over it runs as few tasks as its data
    needs."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))
    columns = columns or {}
    table = pa.table(
        [pa.array(columns.get(f.name, ()), f.type) for f in schema], schema=schema
    )
    return spark.createDataFrame(table).coalesce(table.num_rows // ROWS_PER_SLICE + 1)
