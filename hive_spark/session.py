"""SparkSession factory + catalog bootstrap.

Hive equivalents: Driver/SessionState setup (ref: ql/src/java/org/apache/
hadoop/hive/ql/Driver.java:143) and metastore table registration (ref:
standalone-metastore/.../hive_metastore.thrift:644 `struct Table`). In the
Spark-native engine both collapse into one tuned SparkSession plus temp-view
registration over parquet directories.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing, skew-join splitting, SMJ->BHJ conversion
  replace Hive's SkewJoinOptimizer / ConvertJoinMapJoin passes.
- Broadcast threshold mirrors Hive's 10 MB auto-mapjoin default
  (ref: common/.../HiveConf.java:2308) but raised to 64 MB — on a
  1000-executor cluster shipping a 64 MB table beats shuffling 100 TB.
- shuffle.partitions is a *default*; AQE coalesces down, and at cluster
  scale it should be set ~2-3x total cores by the deployment, not code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from hive_spark.functions import register_once
from hive_spark.operators import _RUNTIME_CONFS

# Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_session(
    app_name: str = "hive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local test default is ``local[$SPARK_GRAFT_CPUS]``, where the variable
    defaults to the cores this process may run on; on a real cluster the
    caller passes ``master=None`` with spark-submit providing the master and
    the same configs scale up unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Hive semantics, the parquet timestamp read and AQE: the confs
        # ensure_engine also sets on a foreign session
        .config(map=_RUNTIME_CONFS)
        # deep LATERAL VIEW chains exceed the default 100 analyzer
        # iterations (lateral_view_multi.q)
        .config("spark.sql.analyzer.maxIterations", "500")
        # -- optimizer: everything Hive's Optimizer.java does, built in --
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- execution ---------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
    )
    # Shuffle/blockmgr scratch: /tmp is subject to tmpfiles purging on this
    # host (observed mid-run: FAILED_READ_FILE on /tmp/spark-*), so default
    # the local dir somewhere durable unless the caller already chose one.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR", os.path.expanduser("~/.spark_local")
    )
    os.makedirs(local_dir, exist_ok=True)
    if "SPARK_LOCAL_DIRS" not in os.environ:
        builder = builder.config("spark.local.dir", local_dir)
    # java.io.tmpdir defaults to /tmp, where the JVM keeps its driver
    # staging dirs (/tmp/spark-<uuid>: py4j secrets, userFiles) — this
    # host's tmpfiles purger deletes them mid-run and the whole JVM dies
    # (observed r9: three concurrent sessions killed in one sweep). Keep
    # the JVM's temp root on durable scratch alongside spark.local.dir.
    jtmp = os.path.join(local_dir, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    builder = builder.config(
        "spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={jtmp}"
    ).config("spark.executor.extraJavaOptions", f"-Djava.io.tmpdir={jtmp}")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # Register the Hive function gap-fill into this session's SQL namespace
    # (ensure_engine then finds it done).
    register_once(spark)
    return spark


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g: local mode runs the
    whole engine in the driver JVM, and the rest of the host is left to
    off-heap buffers, the Python workers and the page cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Load the testdata parquet tables as DataFrames without running a
    Spark job.

    Each table's schema comes from one parquet footer, read with pyarrow
    (Hive keeps the columns in the table's StorageDescriptor instead of
    asking the data, ref: hive_metastore.thrift:478); a plain
    `spark.read.parquet` would run one schema-inference job per table.
    Catalyst handles column pruning and filter pushdown into the scan;
    nothing to hand-roll (Hive needed MapOperator + SerDe per format, ref:
    ql/.../exec/MapOperator.java:78).
    """
    from pyspark.sql import functions as F

    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        schema, ns_cols = _footer_schema(name, path)
        df = spark.read.schema(schema).parquet(path)
        # Timestamp normalization: ms/us parquet timestamps read natively as
        # TIMESTAMP_NTZ; TIMESTAMP(NANOS) columns arrive as long (nanosAsLong)
        # and are converted here to TIMESTAMP_NTZ at microsecond precision,
        # so every table exposes one timestamp type (matching the DuckDB
        # oracle's naive timestamps under the UTC session).
        for col in ns_cols:
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
        out[name] = df
    return out


def _footer_schema(table: str, path: str) -> tuple[StructType, list[str]]:
    """The schema Spark infers for the parquet table at ``path`` in an
    engine session, from one footer (any part of a multi-file table
    carries it), plus the TIMESTAMP(NANOS) columns, which nanosAsLong
    reads as BIGINT."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_type

    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(f"table {table}: no parquet file in {path}")
        path = os.path.join(path, parts[0])
    footer = pq.read_metadata(path).schema
    for i in range(len(footer)):
        # pyarrow reads INT96 as timestamp[ns]; Spark reads it as TIMESTAMP
        if footer.column(i).physical_type == "INT96":
            raise TypeError(
                f"table {table}: column {footer.column(i).path} is stored as"
                " INT96, which the engine does not register"
            )
    fields, ns_cols = [], []
    for f in footer.to_arrow_schema():
        at = f.type
        if pa.types.is_timestamp(at) and at.unit == "ns":
            ns_cols.append(f.name)
            at = pa.int64()
        try:
            dt = from_arrow_type(at, prefer_timestamp_ntz=True)
        except PySparkTypeError as e:
            raise TypeError(
                f"table {table}: column {f.name} has type {f.type},"
                " which has no Spark type"
            ) from e
        fields.append(StructField(f.name, dt, f.nullable))
    return StructType(fields), ns_cols


def register_views(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Register testdata tables as temp views (SQL entry point parity:
    Hive metastore tables -> Spark temp views over parquet)."""
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
