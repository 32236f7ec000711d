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
- Class-data sharing for the driver JVM (``cds.py``). A short batch job
  pays a cold JVM: ``setup_s`` of the repo benchmark is 21-24 s against
  a 4.5 s pass, and most of the JVM's start is loading and verifying
  some 17,000 classes. The first launch for a key records the classes it
  loads (``-XX:DumpLoadedClassList``); when the process exits, after
  its JVM, one ``java -Xshare:dump`` run with that JVM's own classpath,
  heap and module options writes a static archive (160-230 MB, 35-65 s
  on 4 vCPUs, output to ``<key>.log``), and every later launch maps it
  (``-XX:SharedArchiveFile=... -Xshare:auto`` in
  ``spark.driver.defaultJavaOptions``, merged with the caller's). One
  process per key records (an ``O_EXCL`` lock, cleared when its pid is
  dead). The archive lives in
  ``${XDG_CACHE_HOME:-~/.cache}/data_engineer_capstone_spark/cds/``, a
  per-host cache that outlives a checkout; each new archive evicts all
  but the ``KEEP_ARCHIVES`` (3) most recently used, and a launch that
  maps one marks it used. Its key covers what CDS
  checks: the Java build, the pyspark version, the heap size, and the
  path, size and mtime of every classpath entry (``LOCALFS_JAR``, the
  conf directory, every Spark jar), so a stale archive is never passed;
  the JVM ignores a corrupt one silently. CDS needs each classpath
  directory empty, so the launch points ``SPARK_CONF_DIR`` at an empty
  directory in the cache when the Spark home's conf directory holds
  only ``*.template`` files. It is skipped when ``SPARK_CONF_DIR``,
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH``,
  ``PYSPARK_SUBMIT_ARGS`` or ``PYSPARK_GATEWAY_PORT`` is set, when the
  conf directory holds anything else (a real ``spark-defaults.conf`` is
  never hidden), and when the cache cannot be written. The archive costs
  resident memory, mostly anonymous rather than the mapped file: at the
  end of a ``queries`` run of the repo benchmark the driver JVM read
  ``VmHWM`` 994 MB, ``RssAnon`` 966 MB and ``RssFile`` 23 MB without it,
  and 1169-1206 MB, 1090-1144 MB and 53 MB with it (perfbench
  ``peak_rss_mb`` 1320 against 1495-1532 MB; one run without, two with).
- ``JIT_OPTIONS`` lead ``spark.driver.defaultJavaOptions`` (the caller's
  options follow, so a flag the caller repeats wins; the CDS flags go in
  front). Where ``spark-defaults.conf`` or a ``--properties-file`` in
  ``PYSPARK_SUBMIT_ARGS`` sets that key and the caller does not, the
  file's value stands alone: a ``--conf`` would replace it. They raise
  HotSpot's four C2 (tier-4) thresholds tenfold. After the archive, C2 is
  the largest CPU consumer of a short job. In the runs that planned this
  change it took about 10 of 22 driver-JVM CPU-s in a measured
  ``star_etl`` pass of the repo benchmark, against 4.5 s of executor
  tasks, and one ``-XX:+LogCompilation`` run put 13.7 C2 thread-seconds
  in that 7.2 s pass: generated classes 3.9, JDK 2.2, Catalyst 1.7, Java
  serialization 1.3, Spark core 1.2, Scala 1.0, Parquet 1.0; with the
  thresholds, C2 read 1.8-2.0 CPU-s in the pass. Planning, Janino,
  serialization and Catalyst tree code run thousands of times a pass, not
  millions, so they stay at C1. Per-row code also reaches C2 later. Over
  ten alternating pairs of the repo benchmark per workload (4 vCPUs,
  JDK 17), ``cpu_s`` fell from 16.3 to 12.2 s on ``queries`` and from
  21.5 to 16.6 s on ``star_etl`` (10/10 pairs each). The wall-time
  medians leaned worse, each within its bound: ``setup_s`` +5% on both,
  ``pass_s`` +7% and +3.5%, ``query_p90_s`` +6.5% on ``queries``, the
  change winning 2-3 of 10 pairs. At sf0.1 (``tools/profile_query.py
  --runs 3``, alternating pairs, medians) the two graph queries were
  slower: q242 first run 14.9 → 16.8 s (slower in 4 of 5 pairs) with its
  executor-task CPU 11.4 → 15.2 s, min 5.6 → 6.0 s (5 of 5); q335 first
  run 25.8 → 29.4 s (4 of 7), min 14.4 → 15.0 s (6 of 7). Over 3 pairs
  each, q30 read first run 12.1 → 12.9 s and min 2.7 → 2.4 s, q21 9.7 →
  9.0 s and 1.8 → 1.6 s. Each median moved by less than the distance
  between the parent's quartiles, on a host where q242's first run read
  12.9-19.3 s at the parent alone. ``bench.py`` at sf0.1, two alternating
  pairs: headline 52.2 → 53.7 s and 46.1 → 46.4 s. Measured and
  rejected: ``-XX:TieredStopAtLevel=1`` (no C2;
  ``cpu_s`` −42%, but sf0.1 q30 min 3.06 → 7.02 s and q335 16.7 → 27.8 s);
  the back-edge threshold left at its default (half the gain, and
  ``queries`` p50 latency +13-20%); a compiler-directives allow-list of
  C2 for generated, execution, Parquet and unsafe code only (C2 compile
  time 57.6 → 24.1 s in the run, ``cpu_s`` unmoved: the freed threads
  compiled more generated code); ``-XX:CICompilerCount=2`` (−20% on
  ``star_etl``, but one C2 thread on any host); ``-XX:Tier4LoadFeedback=1``
  (no effect). Executors of a cluster keep the JVM's defaults; there the
  driver only plans, which is the lukewarm code this targets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import cds


# Generated-code classes the JVM keeps compiled (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000

# HotSpot's four C2 (tier-4) compile thresholds, each ten times the JDK's
# default, for the driver JVM (see the module docstring).
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

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
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.driver.extraClassPath": LOCALFS_JAR,
        "spark.hadoop.fs.file.impl": LOCALFS_CLASS,
        "spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse",
        # ContextCleaner only deletes reliable-checkpoint files when this is
        # true (default false), and it reads the conf at context creation —
        # so it is set here, not in materialize(). Without it the ~90
        # materialize() sites (incl. per-round checkpoints inside CC/BFS/
        # k-truss loops) accumulate unbounded data under
        # SPARK_GRAFT_CHECKPOINT_DIR in SPARK_GRAFT_CHECKPOINT=reliable runs.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        **(extra_conf or {}),
    }
    # the caller's options follow, so any flag they repeat wins; options a
    # properties file sets are left alone, as a --conf would replace them
    if cds.DRIVER_OPTIONS in conf or not cds.properties_file_sets(cds.DRIVER_OPTIONS):
        conf[cds.DRIVER_OPTIONS] = f"{JIT_OPTIONS} {conf.get(cds.DRIVER_OPTIONS, '')}".strip()
    with cds.driver_launch(conf):
        builder = SparkSession.builder.master(master).appName(app_name)
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
