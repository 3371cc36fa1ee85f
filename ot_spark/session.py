"""SparkSession factory tuned for this engine.

Local-mode testing, cluster-shaped configuration: AQE on (runtime re-plan,
skew-join splitting, small-partition coalescing), Arrow on (all Python
boundaries are vectorized), shuffle partitions sized to parallelism rather
than the 200 default.  On a real cluster the same builder is used with
``master`` left to spark-submit.  How a local master's driver JVM and
Python workers start is :mod:`ot_spark.launch`'s.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import launch


def get_spark(
    app_name: str = "ot_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``parallelism`` controls local core count (``local[N]``); at cluster
    scale it is ignored and executors come from spark-submit.  Shuffle
    partitions default to 2x parallelism — enough to keep AQE's coalescing
    busy without tiny-task overhead at local scale; at 100 TB this knob is
    instead set to ~2-3x total executor cores and AQE coalesces down.
    ``extra_conf`` overrides any key set here; a local master's launch
    settings (Python workers, local writes, class-data sharing) are
    :func:`ot_spark.launch.create`'s.

    Call-site capture is off (``spark.python.sql.dataFrameDebugging.enabled``):
    it costs ~4 py4j round trips per Column method, most of plan-building
    time, and only buys errors that name the Python line that built the
    failing expression.  ``extra_conf`` can set it back to ``"true"`` in the
    process's first ``get_spark``: PySpark reads it once per process, on
    first use, and caches it.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * parallelism, 8)
    if master is None:
        master = f"local[{parallelism}]"

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(parallelism),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("OT_SPARK_DRIVER_MEM", "24g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull`
        # above every explode; PushDownPredicate then moves it below the
        # scan-parallelism-floor repartition and CollapseProject INLINES
        # the array derivation (the tokenizer regex, span UDFs, ...) into
        # the filter — so the most expensive map expression in the query
        # runs TWICE, once on the unfanned single-row-group scan (one
        # task).  Measured: inverted_index 2.8s -> 1.5s warm at 10x sf0.1.
        # The rule only prunes empty-array rows pre-shuffle — a no-op
        # semantically, and our explodes sit above the fan repartition
        # where the early prune saves nothing.
        "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # HotSpot never JIT-compiles methods over ~8 KB of bytecode, so a
        # whole-stage-fused method past that limit runs JVM-INTERPRETED —
        # measured 3x slower than per-operator execution on the Bloom
        # register build (big generated expression trees: sketches, h3x).
        # Capping hugeMethodLimit at the JIT threshold makes Spark fall
        # back to the per-operator path exactly when fusion stops paying.
        "spark.sql.codegen.hugeMethodLimit": "8000",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if master.startswith("local"):
        # Past this many paths (default 32; the 64-bucket read-back lists
        # 64 run dirs) Spark lists them in a job, whose scheduling costs more than a
        # local listing: on 4 cores, reads of a 1920-run-dir table were ~0.1 s
        # faster listed on the driver.  Cluster masters keep the default.
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(2**31 - 1)
    conf.update(extra_conf or {})
    spark = launch.create(
        lambda c: SparkSession.builder.master(master).appName(app_name).config(map=c).getOrCreate(),
        master, conf,
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_table(rows: list[tuple], schema: str | StructType) -> pa.Table:
    """``rows`` as an Arrow table typed by the Spark ``schema`` (a DDL
    string or a StructType, whose nullability is kept) — the one
    Spark-to-Arrow type mapping for tables built on the driver."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [[]] * len(arrow_schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    return pa.table(arrays, schema=arrow_schema)


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A driver-side lookup table as a ``LocalRelation``.

    ``createDataFrame(rows)`` from Python tuples plans a Python RDD
    (``Scan ExistingRDD``): every execution of a plan that broadcasts it
    starts a Python job to rebuild the table.  Built from an Arrow table,
    the rows live in the plan itself and the broadcast needs no Python."""
    return spark.createDataFrame(arrow_table(rows, schema))
