"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs mirror what a 1000-executor deployment would set cluster-
side: AQE on (runtime coalesce + skew-join splitting), Arrow for every
JVM<->Python boundary, shuffle partitions sized to cores (not the 200
default), UTC so parquet timestamps compare cleanly against DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datatest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = master.split("[", 1)[1].rstrip("]")
            shuffle_partitions = cpus if n == "*" else int(n)
        except (IndexError, ValueError):
            shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Token arrays decode into multi-MB child ColumnVectors; with G1's
        # default region size those are humongous allocations and 16+
        # concurrent tasks degenerate into full-GC storms (measured 12.7s
        # -> 5.2s on a 4M-row scan at local[32] with 32m regions).
        .config("spark.driver.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """DataFrame over driver-built ``rows`` (tuples in ``schema`` field
    order; ``schema`` a StructType or DDL string) planned as a
    ``LocalRelation``.

    The rows travel as one Arrow table, so reading the frame runs no
    Spark job. ``spark.createDataFrame(list, schema)`` would plan a
    ``LogicalRDD`` instead: every read of it is a job with a Python
    worker re-serializing the rows.
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, af, values in zip(schema.fields, arrow_schema, columns):
        arr = pa.array(values, type=af.type)
        if not field.nullable and arr.null_count:
            raise ValueError(
                "field {0}: not nullable, but got None".format(field.name)
            )
        arrays.append(arr)
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )
