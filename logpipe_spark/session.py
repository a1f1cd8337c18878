"""SparkSession builder tuned for the engine.

Local sandbox runs on ``local[N]`` (single JVM); the same config block is what
we'd ship to a 1000-executor cluster via spark-submit — AQE (runtime
coalesce + skew-join), Arrow for pandas-UDF exchange, UTC session time,
shuffle partitions sized to the parallelism level rather than the 200
default. The reference engine's worker pool (``src/workers/workerPool.js:11-430``)
is replaced wholesale by Spark's scheduler; nothing to configure beyond this.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "logpipe_spark",
    master: str | None = None,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard config.

    ``shuffle_partitions`` defaults to 2× the core count — small enough to
    avoid tiny-task overhead locally, and AQE coalesces further at runtime.
    On a real cluster this scales with ``--num-executors × cores``.
    """
    cpus = cpus or DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(2 * cpus, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-spam to STDOUT in local mode, which
        # corrupts single-line JSON artifacts (BENCH_r02.json arrived
        # unparseable because the driver's tail capture hit progress spew
        # mid-line). Machine-readable stdout requires this off.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_active_or_build(**kw) -> SparkSession:
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session(**kw)


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: StructType | str) -> DataFrame:
    """A small driver-side frame (dimension, seed or grid rows) as a
    ``LocalRelation``.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a StructType or
    a DDL string (``"seed int"``). The rows go to the JVM as one Arrow
    table, so the plan holds a ``LocalTableScan`` and a broadcast of the
    frame collects it in the JVM. ``spark.createDataFrame(<list>)`` instead
    plans a ``Scan ExistingRDD`` over a Python RDD: every broadcast of it
    runs its job through Python workers. ``createDataFrame(<pandas frame>)`` falls back to
    that path for zero rows or a failed Arrow conversion; a pyarrow table
    has no fallback, so an empty grid is an empty LocalRelation, and a row
    of the wrong width or a value that does not fit its column raises.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    table = pa.Table.from_struct_array(
        pa.array(rows, pa.struct(list(to_arrow_schema(struct)))))
    return spark.createDataFrame(table, struct)
