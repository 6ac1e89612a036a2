"""SparkSession factory tuned for the dedup workload.

Local-mode defaults mirror what a 1000-executor cluster deployment would set:
AQE on (dynamic coalescing + skew-join splitting), Arrow enabled for the
vectorized UDF kernels, shuffle partitions sized to cores. On a real cluster
the same builder is used by ``spark-submit --py-files`` (see ``cli.py``) with
``--master`` supplied externally.

Every Parquet file the engine writes (stage snapshots and their manifests,
streaming state dirs, CLI outputs) is zstd-compressed, set once here through
``spark.sql.parquet.compression.codec``. zstd is Iceberg's own default Parquet
codec (``write.parquet.compression-codec``), and the snapshot log follows the
Iceberg table contract; on the extract snapshot, which holds the normalized
text of every page, it stores about half the bytes of Spark's default snappy.
Parquet records the codec per column chunk, so snapshots and state dirs
written with another codec, or holding files of both, stay readable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "infoscience-imports-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master=None`` defers to spark-submit / env; tests pass ``local[N]``.
    """
    cores = os.cpu_count() or 4
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    n = _parallelism_of(master, cores)
    if shuffle_partitions is None:
        # size shuffles to actual parallelism so an N-core and a 4N-core run
        # are both partition-fed (north-rule scaling evidence depends on this)
        shuffle_partitions = max(2 * n, 8)
    # heap must scale with task concurrency: 32 concurrent tasks on an 8g
    # heap spend more time in GC than in the operators (measured 4x slowdown
    # on map-heavy stages); ~1.5g per task slot keeps GC off the critical path
    default_heap = f"{max(8, int(n * 1.5))}g"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 32 MB splits: the extract/signature kernels are CPU-dense (~2 MB/s
        # per core through the regex+MinHash path), so scan splits — not a
        # repartition shuffle — must provide the parallelism. At petabyte
        # scale this yields more tasks than the 128 MB default; that is the
        # correct trade for kernels this hot (AQE coalesces downstream).
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_heap))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def path_bytes(spark: SparkSession, path: str) -> int | None:
    """Bytes under ``path`` (a file or a directory tree), or ``None`` when
    the size is unknown or zero.

    Asks the Hadoop ``FileSystem`` of the path, so the same probe serves
    local, HDFS and object-store paths. Callers that size a plan from this
    value must leave the plan as it is on ``None``: a gate that cannot
    measure fails closed.
    """
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    try:
        n = p.getFileSystem(sc._jsc.hadoopConfiguration()).getContentSummary(p).getLength()
    except Py4JJavaError:  # missing path, unknown scheme, no permission
        return None
    return n if n > 0 else None


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return default
        try:
            return int(inner)
        except ValueError:
            return default
    return default
