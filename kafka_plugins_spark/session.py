"""SparkSession factory tuned for the CDC replay workload.

Local mode is a single JVM; on a real cluster the same settings apply per
executor. AQE is on so the salted LWW reduce and the merge join get
runtime-coalesced partitions and skew-join splitting for free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """tmpfs-backed scratch dir if available, else /tmp."""
    base = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp/spark-local"
    os.makedirs(base, exist_ok=True)
    return base


def get_spark(
    app_name: str = "kafka_plugins_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → ``local[*]``. shuffle_partitions defaults to 2× cores:
    enough tasks that AQE coalescing has room to work, not so many that
    tiny tasks dominate. On a 1000-executor cluster you would instead set
    ``spark.sql.shuffle.partitions`` to ~2-3× total cores and let AQE
    coalesce, which these configs already enable.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # 8 MB splits + 8 MB AQE advisory: benchmark inputs are O(1 GB);
        # the defaults (128 MB splits, 64 MB advisory) yield fewer tasks
        # than cores and make one host-throttled straggler the stage tail
        # (measured: 11.7s → 8.3s at local[8]). On a real cluster raise
        # both (more tasks is just more tasks; AQE coalesces downstream).
        .config("spark.sql.files.maxPartitionBytes", "8388608")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8388608")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g"))
        # Whole-stage codegen emits one big processNext() per stage; for
        # wide fixed-dim arithmetic (the unrolled 64-d dot products in
        # operators/similarity.py) that method exceeds HotSpot's 8000-
        # bytecode JIT cap, so by default it runs in the BYTECODE
        # INTERPRETER (measured 24.6 µs/row vs 0.9 µs compiled at dim=64).
        # Standard production-Spark JVM setting; scale-independent — on a
        # cluster it goes in executor options (set here too).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # shuffle/spill on tmpfs: the sandbox has one virtio disk whose
        # bandwidth caps multi-core shuffle; on a real cluster this maps
        # to NVMe-local shuffle dirs (standard practice)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", _local_dir()))
        .config("spark.ui.enabled", "false")
        # ANSI off: replay semantics must be permissive (bad casts → null),
        # matching the reference's lenient decode path and DuckDB's
        # try-semantics used by the oracle comparisons.
        .config("spark.sql.ansi.enabled", "false")
    )
    # The Arrow closures (operators/similarity.py, functions/decode.py)
    # call package functions, which cloudpickle ships by reference: the
    # Python workers must import this package even when the driver found
    # it through its own sys.path, not PYTHONPATH
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf[key] = os.pathsep.join(p for p in (root, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
