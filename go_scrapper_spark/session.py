"""SparkSession factory tuned for the crawl engine.

Local-mode testing (local[N]) but configured as we would for a
1000-executor cluster: AQE on (runtime coalesce + skew-join splitting
for the Zipf host head), Arrow for every Python<->JVM boundary, and
shuffle partitions sized to cores (overridable per workload — at
100 TB you size these to target ~128-256 MB per shuffle partition).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_DRIVER_MEM_CAP_MB = 48 * 1024


def driver_memory(mem_total_kb: int) -> str:
    """Default ``spark.driver.memory``: half of the host's MemTotal,
    capped at 48g. In local mode the driver JVM also runs every
    executor task, so a fixed 48g heap outgrows a small host and the
    kernel OOM-kills the JVM mid-run."""
    return f"{min(mem_total_kb // 2048, _DRIVER_MEM_CAP_MB)}m"


def _host_mem_total_kb() -> int:
    """MemTotal from /proc/meminfo; a host without it gets the cap."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 2 * 1024 * _DRIVER_MEM_CAP_MB


def get_spark(
    app_name: str = "go-scrapper-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. On a real cluster the
    master/executor settings come from spark-submit; everything set here
    is cluster-safe (nothing assumes local mode).

    Master resolution: an explicit $SPARK_MASTER wins; under spark-submit
    (detected via the py4j gateway env it injects) no .master() is set at
    all, so the submitted --master is honored; otherwise local[cores].
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = int(cores)
    if shuffle_partitions is None:
        # local rule of thumb: 2x cores; on a cluster this is sized from
        # shuffle volume instead (target 128-256MB / partition).
        shuffle_partitions = max(2 * cores, 8)

    builder = SparkSession.builder
    env_master = os.environ.get("SPARK_MASTER")
    if env_master:
        builder = builder.master(env_master)
    elif "PYSPARK_GATEWAY_PORT" not in os.environ:
        # not launched by spark-submit → standalone local run
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html is a binary column; keep Arrow batches bounded so a batch of
        # pages fits comfortably in the Python worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # every action renders the physical plan to a string for the
        # SQL-execution listener event (and AQE re-renders on every
        # runtime re-plan). For staged pipelines whose cached lineage
        # embeds large expression trees the default (~2^31) cap lets
        # that rendering burn tens of driver-seconds per action —
        # jstack: TreeNode.generateTreeString + per-node regex
        # redaction. 256k keeps explain() useful, renders the crawl's
        # ~170KB wave plans without a WARN per action, and still
        # bounds the pathological multi-MB cases.
        .config("spark.sql.maxPlanStringLength",
                os.environ.get("SPARK_MAX_PLAN_STRING", "262144"))
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_DRIVER_MEM", driver_memory(_host_mem_total_kb())
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-held ``rows`` as a table: tuples in field order, or dicts
    by field name (a missing key is NULL), against ``schema`` (a
    StructType or a DDL string).

    The rows ship to the JVM as one ``pyarrow.Table`` built against the
    Spark schema, so the frame is a ``LocalRelation``: no Python worker
    ever reads it. A Python list handed to ``spark.createDataFrame``
    instead becomes parallelize -> ``PythonRDD``, which pickles the rows
    row by row and re-runs a Python worker on every evaluation of the
    plan, on a second PySpark daemon beside the one the Arrow UDFs use;
    a pandas frame takes the Arrow route only while its conversion
    succeeds and silently falls back to the pickled one otherwise. A
    NULL in a non-nullable field raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r, strict=True)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
