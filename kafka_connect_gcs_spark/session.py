"""Driver-side session helpers shared by the CDC and archive paths.

* :func:`local_frame` builds a small driver-side relation (an archive scan
  plan, a manifest-range table, an empty frame) as a JVM ``LocalRelation``.
  ``createDataFrame(<python list>)`` instead plans a parallelized Python
  RDD (``Scan ExistingRDD``): every scan of it starts Python workers, and a
  broadcast of it pays a Python job first. Going through a ``pyarrow.Table``
  takes the Arrow-stream path to the JVM, which does not depend on
  ``spark.sql.execution.arrow.pyspark.enabled``.
* :func:`adaptive_disabled` is the one place the engine overrides
  ``spark.sql.adaptive.enabled`` on the shared session.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: "T.StructType | str"
) -> DataFrame:
    """``rows`` (tuples in field order; ``None`` is null) as a DataFrame
    planned as ``LocalTableScan``. ``schema`` is a StructType or DDL
    string. Meant for metadata-sized relations: Spark keeps a relation
    under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
    default) on the driver and splits it into
    ``min(rows, defaultParallelism)`` partitions when scanned."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


#: serializes every AQE override: two overlapping toggle/restore pairs
#: would otherwise interleave and could leave AQE off session-wide
_AQE_LOCK = threading.RLock()


@contextmanager
def adaptive_disabled(spark: SparkSession) -> Iterator[None]:
    """Run the body with ``spark.sql.adaptive.enabled=false``, then restore
    the previous value, also on error. The conf is session-wide, so the
    override holds a module lock for its whole body: concurrent callers
    take turns instead of racing on the restore. Queries planned on other
    threads without this helper still see AQE off while a body runs, so
    keep bodies to one small collect."""
    conf = spark.conf
    with _AQE_LOCK:
        prev = conf.get("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", prev)
