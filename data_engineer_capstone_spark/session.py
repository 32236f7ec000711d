"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N], one JVM), but
every knob is chosen so the same plan shapes survive a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB the static shuffle-partition guess is always
  wrong; AQE re-plans from actual map output sizes.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the initial number mostly a ceiling.
- UTC session timezone — timestamp semantics must not depend on the host.
- Arrow enabled — every pandas-UDF boundary is Arrow-batched.
- ``spark.sql.legacy.parquet.nanosAsLong`` — the driver's ``events`` table
  carries parquet TIMESTAMP(NANOS) which Spark refuses by default; we read
  nanos as long and convert to timestamp in the catalog (see catalog.py).
- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``. The
  JVM-wide cache of Janino-compiled whole-stage-codegen classes holds
  100 entries by default, and a workload that repeats more distinct
  plans than that, in the same order, evicts every class before it is
  reused. Measured working sets, in distinct classes per pass: 157 for a
  ``star_etl`` pass of the repo benchmark, 108 for a ``queries`` pass,
  and 652 for a bench.py headline sweep (21 keys, 4 lane keys and the
  pipeline composite at sf0.01). With 100 entries a warm pass recompiled
  152 (``star_etl``) and 54-60 (``queries``) classes, and bench.py's
  second sweep 832. The JIT then compiles both the fresh classes and
  Janino itself (29.7 s of a 40.9 CPU-s ``star_etl`` pass in JFR, 4
  vCPUs). With 1000 entries the same warm passes compile 8, 0-4 and 12
  classes. The residual cost is Spark's, not the cache's: every
  whole-stage LIMIT names its counter from a JVM-wide sequence
  (``_limit_counter_N``), so a ``head(1)`` whose limit is pushed into
  union branches — the DQ gates on ``time`` and ``immigration_facts`` —
  generates new source, and compiles a fresh class, on every call. Those
  are the 8 compiles left per warm ``star_etl`` pass. Spark sizes the
  cache once per JVM, from the session that compiles first.
- ``fs.file.impl`` = ``LOCALFS_CLASS`` from ``LOCALFS_JAR`` on the driver
  classpath (``jvm/PosixLocalFileSystem.java``). Without the native Hadoop
  library, Hadoop's ``RawLocalFileSystem.setPermission`` runs one
  ``chmod`` process for every file, ``.crc`` sidecar and directory it
  creates: 443 spawns per ``star_etl`` pass of the repo benchmark, 207
  of them in the one task that writes ``visitors``. Each costs the
  writing thread 2.4-3.3 ms in an idle session (100-call loop, 4 vCPUs)
  and more under a pass's load; the in-process call costs 0.1-0.2 ms.
  The class sets the same modes in-process with ``java.nio``; everything
  else is Hadoop's ``LocalFileSystem`` (checksum sidecars written and
  verified on read), except that it refuses to rename onto an existing
  file, like Hive's ``ProxyLocalFileSystem``, which pyspark's jars
  otherwise register for ``file://``. A ``local[N]`` session's executors
  run in the driver JVM, so the driver classpath covers them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Generated-code classes the JVM keeps compiled (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000

# The spawn-free local file system (see the module docstring); the jar is
# built from its source by tools/build_localfs_jar.py.
LOCALFS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "posix-localfs.jar"
)
LOCALFS_CLASS = "capstone.fs.PosixLocalFileSystem"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "data_engineer_capstone_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.extraClassPath", LOCALFS_JAR)
        .config("spark.hadoop.fs.file.impl", LOCALFS_CLASS)
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        # ContextCleaner only deletes reliable-checkpoint files when this is
        # true (default false), and it reads the conf at context creation —
        # so it is set here, not in materialize(). Without it the ~90
        # materialize() sites (incl. per-round checkpoints inside CC/BFS/
        # k-truss loops) accumulate unbounded data under
        # SPARK_GRAFT_CHECKPOINT_DIR in SPARK_GRAFT_CHECKPOINT=reliable runs.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
