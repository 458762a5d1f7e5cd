"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the configuration is chosen so the same
code runs unchanged on a multi-executor cluster: AQE on (runtime shuffle
re-planning, skew-join splitting), shuffle partitions sized to cores
locally (on a cluster you'd size to 2-3x total cores), Arrow enabled for
the pandas-UDF paths, UTC timezone pinned so results are comparable with
the DuckDB oracle (duckdb timestamps are UTC-naive), and a generated-code
cache large enough to hold every plan shape the query registry compiles,
so a repeated query reuses its compiled classes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def single_host(spark: SparkSession) -> bool:
    """True when the session runs on one host (a ``local[...]`` master),
    so its inputs fit one machine.  This is the only place that decision
    is made: the operators whose local plan differs (a fan-out
    ``repartition`` over single-task scans, a broadcast hint on a side
    that scales with the data) ask it here, and on a cluster they keep
    the un-hinted plan AQE sizes from runtime stats.  Callers look it up
    as ``session.single_host(...)``, so patching this attribute gives
    every operator the cluster plan."""
    return spark.sparkContext.master.startswith("local")


def broadcast_if_single_host(df: DataFrame) -> DataFrame:
    """Broadcast hint on a dimension side that scales with the data:
    on one host it skips the shuffle; on a cluster the plan stays
    un-hinted and AQE picks the join strategy (a 100 TB part table must
    NOT broadcast).  Fixed-cardinality dims keep an unconditional
    ``F.broadcast`` at their call sites."""
    return F.broadcast(df) if single_host(df.sparkSession) else df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-side table as a Spark local relation built from
    Arrow columns.  ``spark.createDataFrame(list)`` plans a Python-RDD
    scan (``Scan ExistingRDD``): each execution runs a Python-worker
    stage for rows the driver already holds, and the optimizer sees a
    default (huge) size.  From a pyarrow table the rows plan as a
    ``LocalTableScan`` with their real size, in ``min(rows,
    defaultParallelism)`` partitions.

    ``schema`` is a DDL string or ``StructType``: each column is cast to
    the field's Arrow type with a safe cast, so an overflow or a
    truncated float raises.  Or it is a list of column names, and
    pyarrow infers the types: Python int, float, str, bytes and list
    give bigint, double, string, binary and array, as Spark infers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    rows = list(rows)
    if isinstance(schema, (list, tuple)):
        if not rows:
            raise ValueError("local_frame: cannot infer column types from zero rows")
        cols = [pa.array([r[i] for r in rows]) for i in range(len(schema))]
        return spark.createDataFrame(pa.table(cols, names=list(schema)))
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = [pa.array([r[i] for r in rows]).cast(f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), struct)


def get_spark(app_name: str = "spatialdata-spark", cores: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        # Whole-stage codegen caches compiled classes keyed on their Java
        # source (no data or file identity in it), LRU at 100 entries by
        # default.  A perfbench `batch` round compiles ~200 classes and an
        # `interactive` round ~110, so the default evicted each class
        # before its next use: 112-177 Janino recompiles per `batch` round
        # at sf0.01 (4 cores), each compiled again by the JIT.  Two passes
        # over the 291-query registry at sf0.001 compile 5,125 then 4,543
        # classes at 100 entries, and 3,523 then 216 at 8192 (2.3x
        # headroom), for +24 MB metaspace and +25 MB JIT code heap.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default openCost (4MB) floors split size, so a 10MB input scans
        # as ~3 tasks and any compute-heavy pipeline above it runs on 3
        # cores; with a small openCost the bytes-per-core term sizes
        # splits to the parallelism, while maxPartitionBytes (128MB
        # default) still governs real-scale inputs
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # PySpark 4 wraps every DataFrame API call to capture the user
        # call site for error decoration: a Python stack walk plus ~3
        # py4j round trips (conf.get + PySparkCurrentOrigin set/clear)
        # PER CALL.  Interleaved A/B (r15): 25-50% of plan-construction
        # time on complex operators.  Errors still raise normally, they
        # just lose the "line N in user code" origin line — the right
        # trade for an engine whose driver-side cost is on the query
        # path (guide §5: the driver should do almost no work).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Put the library root on the WORKER interpreters' startup
        # PYTHONPATH (not just the task-time include path): `site` then
        # imports the repo's sitecustomize.py, whose stat-guarded
        # zipimporter.invalidate_caches removes the 130-210 ms/task
        # zip-TOC re-read Spark's per-task importlib.invalidate_caches
        # triggers on CPython 3.11 (see sitecustomize.py).  On a real
        # cluster the library is shipped to executors anyway
        # (--py-files / image); this keeps local workers equivalent.
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .getOrCreate()
    )


def _worker_pythonpath() -> str:
    """The caller's PYTHONPATH with the library root appended (a user's
    own entries keep precedence and are not dropped)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    user = os.environ.get("PYTHONPATH", "")
    return os.pathsep.join(p for p in (user, root) if p)

