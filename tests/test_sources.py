"""Sources layer (SURVEY.md §2.1): cast-enforcing readers, partitioned
sinks, offline fixture prep."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import stat
import subprocess
import sys
import time
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineer_capstone_spark.session import JIT_OPTIONS, LOCALFS_CLASS, LOCALFS_JAR
from data_engineer_capstone_spark.sources import (
    avro_source,
    conform,
    csv_source,
    json_source,
    orc_source,
    parquet_source,
    parse_excel_workbooks,
    parse_sas_labels,
    write_csv,
    write_json,
    write_table,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
    ]
)


@pytest.fixture
def csv_file(tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id,name,amount\n1,alpha,10.5\n2,beta,20.25\n3,,\n")
    return str(p)


def test_csv_source_schema_enforced(spark, csv_file):
    df = csv_source(spark, csv_file, schema=CSV_SCHEMA)
    assert [f.dataType for f in df.schema.fields] == [
        T.IntegerType(), T.StringType(), T.DoubleType()]
    rows = df.orderBy("id").collect()
    assert rows[0].id == 1 and rows[1].amount == 20.25 and rows[2].name is None


def test_csv_source_stringly_without_schema(spark, csv_file):
    # reference behavior (pyspark.py:177): header only -> all strings
    df = csv_source(spark, csv_file)
    assert all(f.dataType == T.StringType() for f in df.schema.fields)


def test_csv_dropmalformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("id,name,amount\n1,ok,1.0\nnot_an_int,bad,2.0\n")
    df = csv_source(spark, str(p), schema=CSV_SCHEMA, mode="DROPMALFORMED")
    # count() alone parses zero columns, so malformed rows aren't detected
    # (Spark CSV semantics) — materialize the columns to trigger the drop.
    assert len(df.collect()) == 1


def test_json_source_multiline(spark, tmp_path):
    p = tmp_path / "dim.json"
    write_json([{"code": 1, "label": "x"}, {"code": 2, "label": "y"}], str(p))
    df = json_source(spark, str(p))
    assert {r.code: r.label for r in df.collect()} == {1: "x", 2: "y"}


def test_parquet_source_conform_prunes_and_casts(spark, sf_dir):
    # other tests persist testdata tables via the catalog cache; Spark's
    # cache manager would substitute that InMemoryRelation into this scan's
    # matching plan fragment and hide the parquet pruning being asserted
    from data_engineer_capstone_spark.catalog import clear_table_cache

    clear_table_cache()
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), False),  # stored as bigint
            T.StructField("n_name", T.StringType(), True),
        ]
    )
    df = parquet_source(spark, os.path.join(sf_dir, "nation.parquet"), schema)
    assert df.schema == T.StructType(
        [T.StructField("n_nationkey", T.IntegerType(), True),
         T.StructField("n_name", T.StringType(), True)]
    ) or [f.name for f in df.schema.fields] == ["n_nationkey", "n_name"]
    assert dict(df.dtypes)["n_nationkey"] == "int"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "n_regionkey" not in plan  # column pruned at the scan


def _jobs_in_group(spark, group: str) -> int:
    """Spark jobs run under ``group``, once the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_schema_memo_skips_inference(spark, sf_dir, monkeypatch):
    """With the table cache off, the first load of a table infers its
    schema in a Spark job; every later load takes the schema from the
    catalog's memo and runs no job, with the same schema and rows."""
    from data_engineer_capstone_spark import catalog
    from tests.oracle import rows_fingerprint

    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", "off")
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    sc = spark.sparkContext

    def load(name, group):
        sc.setJobGroup(group, group, interruptOnCancel=False)
        try:
            return catalog.load_table(spark, sf_dir, name)
        finally:
            sc.setJobGroup("", "")

    for name in catalog.TABLES:
        first = load(name, f"memo-first-{name}")
        second = load(name, f"memo-second-{name}")
        assert _jobs_in_group(spark, f"memo-first-{name}") >= 1, name
        assert _jobs_in_group(spark, f"memo-second-{name}") == 0, name
        assert second.schema == first.schema, name
        fingerprints = [
            rows_fingerprint(df.columns, [tuple(r) for r in df.collect()])
            for df in (first, second)
        ]
        assert fingerprints[0] == fingerprints[1], name
        if name == "events":
            assert dict(second.dtypes)["ts"] == "timestamp_ntz"


def test_catalog_schema_memo_sees_rewritten_file(spark, tmp_path, monkeypatch):
    """A rewritten file gets a new memo key, so its next load infers the
    new schema instead of reusing the old one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineer_capstone_spark import catalog

    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", "off")
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    for _ in range(2):
        assert catalog.load_table(spark, str(tmp_path), "region").columns == [
            "r_regionkey", "r_name"
        ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    df = catalog.load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "A", "x"), (1, "B", "y")]


def test_conform_fixes_type_widening(spark):
    # the reference's empty-df-union leaves ints as strings; conform casts
    df = spark.createDataFrame([("1", "a"), ("2", "b")], "id string, v string")
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("v", T.StringType(), True)])
    out = conform(df, schema)
    assert dict(out.dtypes) == {"id": "bigint", "v": "string"}


def test_write_table_partitioned_one_file_per_partition(spark, sf_dir, tmp_path):
    nation = parquet_source(spark, os.path.join(sf_dir, "nation.parquet"))
    out = str(tmp_path / "lake" / "nation")
    write_table(nation, out, partition_by=["n_regionkey"])
    dirs = sorted(os.path.basename(d) for d in glob.glob(out + "/n_regionkey=*"))
    assert len(dirs) == 5
    for d in glob.glob(out + "/n_regionkey=*"):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: expected exactly one writer task's file"
    _assert_lake_modes_and_sidecars(out)
    back = spark.read.parquet(out)
    assert back.count() == nation.count()


def _assert_lake_modes_and_sidecars(root: str) -> list[str]:
    """Every file below ``root`` is 0644 and every directory 0755 (Hadoop's
    default ``fs.permissions.umask-mode`` 022, applied through
    ``setPermission``), and every parquet file has its ``.crc`` sidecar.
    Returns the parquet files."""
    parquet = []
    for d, _, files in os.walk(root):
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o755, d
        for f in files:
            assert stat.S_IMODE(os.stat(os.path.join(d, f)).st_mode) == 0o644, f
            if f.endswith(".parquet"):
                assert f".{f}.crc" in files, f"{d}/{f}: no checksum sidecar"
                parquet.append(os.path.join(d, f))
    return parquet


def _forks() -> int:
    """Processes and threads created on this host since boot."""
    with open("/proc/stat") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("processes "))


@pytest.mark.skipif(not os.path.exists("/proc/stat"), reason="needs Linux /proc/stat")
def test_write_table_spawns_no_process_per_file(spark, tmp_path):
    """The session's local file system sets modes in-process: a
    60-partition write forks fewer processes than it writes parquet files
    (Hadoop without its native library runs a ``chmod`` per file, sidecar
    and directory), and keeps the checksummed reads of ``LocalFileSystem``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == LOCALFS_CLASS

    df = spark.range(6000).withColumn("k", (F.col("id") % 60).cast("int"))
    out = str(tmp_path / "wide")
    before = _forks()
    write_table(df, out, partition_by=["k"])
    forks = _forks() - before
    parquet = _assert_lake_modes_and_sidecars(out)
    assert len(parquet) == 60
    assert forks < len(parquet), f"{forks} forks for {len(parquet)} files"
    assert spark.read.parquet(out).count() == 6000

    # one flipped byte fails the read against the .crc sidecar
    victim = parquet[0]
    data = bytearray(open(victim, "rb").read())
    data[len(data) // 2] ^= 0xFF
    with open(victim, "wb") as f:
        f.write(bytes(data))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(os.path.dirname(victim)).collect()


def test_local_fs_sticky_bit_falls_back(spark, tmp_path):
    """``PosixFilePermission`` has no sticky bit, so a sticky mode goes to
    Hadoop's own ``setPermission`` and is kept."""
    jvm = spark._jvm
    shared = tmp_path / "shared"
    shared.mkdir()
    path = jvm.org.apache.hadoop.fs.Path(shared.as_uri())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert stat.S_IMODE(os.stat(shared).st_mode) == 0o1777
    fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission("750"))
    assert stat.S_IMODE(os.stat(shared).st_mode) == 0o750


def test_local_fs_rename_refuses_existing_file(spark, tmp_path):
    """As with Hive's ProxyLocalFileSystem, the default for ``file://``
    without the override, a rename onto an existing file fails."""
    jvm = spark._jvm
    (tmp_path / "a").write_text("a")
    (tmp_path / "b").write_text("b")
    a, b, c = (jvm.org.apache.hadoop.fs.Path((tmp_path / n).as_uri()) for n in "abc")
    fs = a.getFileSystem(spark._jsc.hadoopConfiguration())
    assert not fs.rename(a, b)
    assert (tmp_path / "b").read_text() == "b"
    assert fs.rename(a, c) and (tmp_path / "c").read_text() == "a"


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_localfs_jar_rebuilds_from_source(tmp_path):
    """The committed jar holds exactly the classes its committed source
    compiles to (tools/build_localfs_jar.py)."""
    from tools.build_localfs_jar import build

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    jar = str(tmp_path / "localfs.jar")
    build(jar)
    rebuilt = classes(jar)
    assert rebuilt and rebuilt == classes(LOCALFS_JAR)


# One driver JVM per call, in its own process: the session fixture's JVM
# is launched once per test process, and CDS only acts on a launch.
_CDS_SESSION = r"""
import json, os, sys, time
from pyspark import SparkContext
from data_engineer_capstone_spark.session import get_spark

extra, barrier, run_exit_hooks = json.loads(sys.argv[1])
spark = get_spark(app_name="cds-probe", extra_conf=extra)
with open(f"/proc/{SparkContext._gateway.proc.pid}/cmdline", "rb") as f:
    argv = f.read().decode().split("\0")
argv = argv[: argv.index("org.apache.spark.deploy.SparkSubmit")]  # JVM options
result = {
    "answer": spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s,
    "flags": [a for a in argv if "Xshare" in a or "SharedArchiveFile" in a
              or "DumpLoadedClassList" in a],
    "probe": spark.sparkContext.getConf().get("spark.capstone.probe", None),
    "jvm_probe": spark._jvm.java.lang.System.getProperty("capstone.probe"),
}
hotspot = spark._jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    spark._jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
result["jit"] = {name: hotspot.getVMOption(name).getValue() for name in (
    "Tier4InvocationThreshold", "Tier4MinInvocationThreshold",
    "Tier4CompileThreshold", "Tier4BackEdgeThreshold")}
if barrier:  # hold the session until every peer has launched its own
    open(os.path.join(barrier, str(os.getpid())), "w").close()
    deadline = time.time() + 300
    while len(os.listdir(barrier)) < 2 and time.time() < deadline:
        time.sleep(0.2)
print(json.dumps(result), flush=True)
if not run_exit_hooks:
    os._exit(0)
"""


def _cds_session(cache, extra=None, barrier=None, run_exit_hooks=False, env=None):
    """Start a session process with ``cache`` as XDG_CACHE_HOME; the
    returned wait gives its result record, stdout and stderr."""
    from data_engineer_capstone_spark import cds

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # none of the launch settings that turn CDS off
    base = {k: v for k, v in os.environ.items()
            if k not in cds._CLASSPATH_ENV + ("SPARK_CONF_DIR",)}
    proc = subprocess.Popen(
        [sys.executable, "-c", _CDS_SESSION, json.dumps([extra or {}, barrier, run_exit_hooks])],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env={**base, "XDG_CACHE_HOME": str(cache), "SPARK_GRAFT_DRIVER_MEM": "1g",
             "SPARK_GRAFT_CPUS": "2", **(env or {})},
    )

    def wait():
        out, err = proc.communicate(timeout=600)
        assert proc.returncode == 0, err[-3000:]
        return json.loads(out.splitlines()[-1]), out, err

    return wait


# the session's C2 thresholds, by flag name
_JIT_DEFAULTS = dict(o.removeprefix("-XX:").split("=") for o in JIT_OPTIONS.split())


def _cds_dir(cache):
    return os.path.join(str(cache), "data_engineer_capstone_spark", "cds")


def _cds_key(cache, jar=LOCALFS_JAR):
    """The archive key of a ``_cds_session`` launch."""
    from pyspark.find_spark_home import _find_spark_home

    from data_engineer_capstone_spark import cds

    empty = os.path.join(_cds_dir(cache), "conf")
    os.makedirs(empty, exist_ok=True)
    conf = {"spark.driver.memory": "1g", "spark.driver.extraClassPath": jar}
    return cds.launch_key(conf, _find_spark_home(), empty)


def _no_cds_output(out, err):
    """No JVM line about class sharing, and the result is the last line."""
    for line in out.splitlines()[:-1] + err.splitlines():
        assert not re.search(r"\[cds|shared (archive|class)", line, re.I), line


@pytest.fixture(scope="module")
def cds_archive(tmp_path_factory):
    """A cache whose archive was recorded by one session with a copy of
    the local-FS jar on its classpath and dumped when it exited. The
    cache already held ``KEEP_ARCHIVES`` archives of other keys, used a
    day or more before; returns the names the dump left."""
    from data_engineer_capstone_spark import cds

    cache = tmp_path_factory.mktemp("cds-cache")
    jar = str(cache / "localfs-copy.jar")
    shutil.copy2(LOCALFS_JAR, jar)
    os.makedirs(_cds_dir(cache))
    old = [f"{i:016x}" for i in range(cds.KEEP_ARCHIVES)]
    for age, stem in enumerate(old, 1):
        for ext in (".jsa", ".log"):
            path = os.path.join(_cds_dir(cache), stem + ext)
            open(path, "w").close()
            os.utime(path, (time.time() - age * 86400,) * 2)
    result, out, err = _cds_session(
        cache, {"spark.driver.extraClassPath": jar}, run_exit_hooks=True
    )()
    key = _cds_key(cache, jar)
    assert result["answer"] == 499500
    assert result["jit"] == _JIT_DEFAULTS
    [flag] = result["flags"]
    assert flag.startswith(f"-XX:DumpLoadedClassList={_cds_dir(cache)}/{key}.")
    _no_cds_output(out, err)
    left = set(os.listdir(_cds_dir(cache)))
    # the least recently used of the older archives made way for the new one
    assert left == {"conf", f"{key}.jsa", f"{key}.log"} | {
        stem + ext for stem in old[:-1] for ext in (".jsa", ".log")
    }, left
    return cache, jar, key


def test_cds_session_records_then_maps_archive(cds_archive, tmp_path):
    """The first session records its classes and leaves an archive at
    exit; the next one loads Spark's classes from it and marks it used."""
    cache, jar, key = cds_archive
    archive = os.path.join(_cds_dir(cache), f"{key}.jsa")
    os.utime(archive, (time.time() - 10 * 86400,) * 2)
    loads = tmp_path / "class-load.log"
    result, out, err = _cds_session(cache, {
        "spark.driver.extraClassPath": jar,
        "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={loads}",
    })()
    assert result["answer"] == 499500
    assert result["flags"] == [f"-XX:SharedArchiveFile={_cds_dir(cache)}/{key}.jsa", "-Xshare:auto"]
    _no_cds_output(out, err)
    log = loads.read_text()
    assert " org.apache.spark.SparkContext source: shared objects file" in log
    assert time.time() - os.stat(archive).st_mtime < 3600


def test_jit_thresholds_merge_with_caller_and_archive(cds_archive):
    """The driver JVM runs with the session's C2 thresholds; a caller's
    default Java options follow them, so the caller's own threshold wins
    and its other options survive, and the archive flags still lead."""
    cache, jar, key = cds_archive
    result, out, err = _cds_session(cache, {
        "spark.driver.extraClassPath": jar,
        "spark.driver.defaultJavaOptions": "-XX:Tier4InvocationThreshold=7000 -Dcapstone.probe=1",
    })()
    assert result["answer"] == 499500
    assert result["jit"] == {**_JIT_DEFAULTS, "Tier4InvocationThreshold": "7000"}
    assert result["jvm_probe"] == "1"
    assert result["flags"] == [f"-XX:SharedArchiveFile={_cds_dir(cache)}/{key}.jsa", "-Xshare:auto"]
    _no_cds_output(out, err)


def test_cds_stale_archive_not_passed(cds_archive, tmp_path):
    """A touched classpath jar makes a new key, and the archive recorded
    for the old one is not passed."""
    cache, jar, key = cds_archive
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = _cds_key(cache, jar)
    lock = os.path.join(_cds_dir(cache), f"{new}.lock")
    try:
        assert new != key
        # a live recorder for the new key, so this session only launches
        with open(lock, "w") as f:
            f.write(str(os.getpid()))
        result, out, err = _cds_session(cache, {"spark.driver.extraClassPath": jar})()
    finally:
        os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
        os.unlink(lock)
    assert result["answer"] == 499500
    assert result["flags"] == []
    _no_cds_output(out, err)


def test_cds_corrupt_archive_falls_back(tmp_path):
    """A corrupt file at the key's path is passed, and the JVM ignores it
    without a word."""
    key = _cds_key(tmp_path)
    archive = os.path.join(_cds_dir(tmp_path), f"{key}.jsa")
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 16))
    result, out, err = _cds_session(tmp_path)()
    assert result["answer"] == 499500
    assert result["flags"] == [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]
    _no_cds_output(out, err)


def test_cds_skipped_with_real_spark_defaults(tmp_path):
    """A Spark home whose conf directory holds a real spark-defaults.conf
    launches without CDS, and the file's settings take effect: its
    default Java options too, which the session's C2 thresholds would
    otherwise replace."""
    from pyspark.find_spark_home import _find_spark_home

    home = tmp_path / "spark-home"
    (home / "conf").mkdir(parents=True)
    spark_home = _find_spark_home()
    for name in os.listdir(spark_home):
        if name != "conf":
            os.symlink(os.path.join(spark_home, name), home / name)
    (home / "conf" / "spark-defaults.conf").write_text(
        "spark.capstone.probe  42\nspark.driver.defaultJavaOptions -Dcapstone.probe=1\n"
    )
    result, out, err = _cds_session(tmp_path / "cache", env={"SPARK_HOME": str(home)})()
    assert result["answer"] == 499500
    assert result["flags"] == []
    assert result["probe"] == "42"
    assert result["jvm_probe"] == "1"
    assert result["jit"]["Tier4InvocationThreshold"] != _JIT_DEFAULTS["Tier4InvocationThreshold"]
    assert not os.path.exists(_cds_dir(tmp_path / "cache"))


def test_properties_file_sets(tmp_path, monkeypatch):
    """Which keys a properties file spark-submit reads sets: a key line in
    the conf directory's spark-defaults.conf or in a --properties-file of
    PYSPARK_SUBMIT_ARGS, not a comment or a longer key."""
    from data_engineer_capstone_spark import cds

    key = "spark.driver.defaultJavaOptions"
    (tmp_path / "spark-defaults.conf").write_text(
        f"# {key} -Da=1\n{key}Extra -Da=1\nspark.x=1\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    assert not cds.properties_file_sets(key)
    assert cds.properties_file_sets("spark.x")
    for sep in (" ", "=", ":", "\t"):
        (tmp_path / "props").write_text(f"  {key}{sep}-Da=1\r\n")
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--properties-file {tmp_path / 'props'} pyspark-shell")
        assert cds.properties_file_sets(key), repr(sep)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--properties-file={tmp_path / 'props'} pyspark-shell")
    assert cds.properties_file_sets(key)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--properties-file {tmp_path / 'gone'} pyspark-shell")
    assert not cds.properties_file_sets(key)


def test_cds_one_recorder_for_concurrent_first_sessions(tmp_path):
    """Two first sessions on one key: one records, the other launches
    plainly rather than start a second dump."""
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    waits = [_cds_session(tmp_path, barrier=str(barrier)) for _ in range(2)]
    results = [wait()[0] for wait in waits]
    assert [r["answer"] for r in results] == [499500, 499500]
    flags = sorted(tuple(r["flags"]) for r in results)
    assert flags[0] == ()
    assert len(flags[1]) == 1 and flags[1][0].startswith("-XX:DumpLoadedClassList=")


def test_write_table_salted_spreads_hot_partition(spark, tmp_path):
    df = spark.range(1000).withColumn("k", F.lit("hot"))
    out = str(tmp_path / "salted")
    write_table(df, out, partition_by=["k"], salt_files=4)
    files = [f for f in os.listdir(out + "/k=hot") if f.endswith(".parquet")]
    assert len(files) > 1
    assert spark.read.parquet(out).count() == 1000


def test_dynamic_partition_overwrite(spark, tmp_path):
    """dynamic overwrite replaces only the partitions in the incoming df;
    static overwrite truncates the whole table."""
    out = str(tmp_path / "daily")
    full = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", 3), ("d3", 4)], "day string, v int"
    )
    write_table(full, out, partition_by=["day"])
    # reprocess ONLY d2 with corrected data
    fix = spark.createDataFrame([("d2", 30), ("d2", 31)], "day string, v int")
    write_table(fix, out, partition_by=["day"], dynamic_overwrite=True)
    got = {(r.day, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {("d1", 1), ("d1", 2), ("d2", 30), ("d2", 31), ("d3", 4)}
    # static overwrite of the same slice would have dropped d1/d3
    write_table(fix, out, partition_by=["day"])
    assert {r.day for r in spark.read.parquet(out).collect()} == {"d2"}


def test_write_table_unpartitioned(spark, tmp_path):
    df = spark.range(10)
    out = str(tmp_path / "flat")
    write_table(df, out)
    assert spark.read.parquet(out).count() == 10


@pytest.mark.parametrize("fmt", ["orc", "csv", "json"])
def test_write_table_format_round_trip(spark, tmp_path, fmt):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    out = str(tmp_path / fmt)
    write_table(df, out, fmt=fmt)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.schema("id int, v string")
    back = reader.load(out)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed+sorted on the join key join with ZERO exchanges
    (the write-once-join-many amortization that matters at 100 TB)."""
    from data_engineer_capstone_spark.sources.sinks import write_bucketed

    li = parquet_source(spark, os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice"
    )
    od = parquet_source(spark, os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey"
    )
    write_bucketed(li, "t_li_bkt", str(tmp_path / "li"), ["l_orderkey"], 4,
                   sort_by=["l_orderkey"])
    write_bucketed(od, "t_od_bkt", str(tmp_path / "od"), ["o_orderkey"], 4,
                   sort_by=["o_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tl, to = spark.table("t_li_bkt"), spark.table("t_od_bkt")
        j = tl.join(to, tl.l_orderkey == to.o_orderkey)
        n = j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert n == li.join(od, li.l_orderkey == od.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_od_bkt")


SAS_SAMPLE = """
/* some header comment */
proc format;
  value i94cntyl
    582 = 'MEXICO AIR SEA, AND NOT REPORTED'
    236 = 'AFGHANISTAN'
    403 = 'INVALID: AMERICAN SAMOA'
    999 = 'No Country Code (999)'
  ;
  value $i94prtl
    'ALC' = 'ALCAN, AK'
    'XXX' = 'NOT REPORTED/UNKNOWN'
    'ABC' = 'O''BRIEN PORT, ME'
  ;
"""


def test_parse_sas_labels_blocks_scrub_and_quotes():
    out = parse_sas_labels(SAS_SAMPLE, title_case={"i94prtl"})
    assert out["i94cntyl"]["582"].startswith("MEXICO")
    assert "403" not in out["i94cntyl"] and "999" not in out["i94cntyl"]
    assert out["i94prtl"]["ALC"] == "Alcan, Ak"
    assert out["i94prtl"]["ABC"] == "O'Brien Port, Me"


def test_excel_gate_and_fake_plumbing(spark, tmp_path):
    xlsx = tmp_path / "a.xlsx"
    xlsx.write_bytes(b"PK\x03\x04fake")
    with pytest.raises(NotImplementedError):
        parse_excel_workbooks([str(xlsx)])
    rows = parse_excel_workbooks(["b.xlsx", "a.xlsx"], fake=True)
    df = spark.createDataFrame(rows)
    assert df.count() == 2
    p = str(tmp_path / "asylum.csv")
    write_csv(rows, p, header=list(rows[0]))
    assert csv_source(spark, p).count() == 2


def test_orc_source_round_trip_conform(spark, sf_dir, tmp_path):
    """Parquet lineitem → ORC → orc_source with a pruning schema: types
    enforced, values identical to the parquet original."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(200)
    out = str(tmp_path / "li_orc")
    li.write.orc(out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
        ]
    )
    back = orc_source(spark, out, schema=schema)
    assert [f.dataType for f in back.schema.fields] == [T.LongType(), T.DoubleType()]
    a = sorted((r.l_orderkey, r.l_quantity) for r in back.collect())
    b = sorted(
        (r.l_orderkey, float(r.l_quantity))
        for r in li.select("l_orderkey", "l_quantity").collect()
    )
    assert a == b


def test_avro_source_gated_without_connector(spark, tmp_path):
    """Without the external spark-avro connector the reader raises a clear
    ModuleNotFoundError (not Spark's generic lookup failure); with the
    connector present the gate is moot and we skip."""
    try:
        avro_source(spark, str(tmp_path / "missing"))
    except ModuleNotFoundError as exc:
        assert "spark-avro" in str(exc)
    except Exception:
        pytest.skip("avro connector on classpath; gate not exercised")
    else:
        pytest.fail("expected an error for missing connector or path")


def test_parse_excel_workbooks_real_engine(tmp_path):
    """Real Excel extraction (ref parse_excel_files.py:15-39) when an engine
    is importable; skipped in codec-less containers where the gated fake
    covers the plumbing."""
    try:
        import openpyxl
    except ImportError:
        pytest.skip("openpyxl not installed in this environment")
    from data_engineer_capstone_spark.sources.fixture_prep import parse_excel_workbooks

    wb = openpyxl.Workbook()
    ws = wb.active
    ws.append(["country", "year", "value"])
    ws.append(["aa", 2015, 10])
    ws.append(["bb", 2016, 20])
    p = str(tmp_path / "t.xlsx")
    wb.save(p)
    rows = parse_excel_workbooks([p])
    assert rows == [
        {"country": "aa", "year": 2015, "value": 10},
        {"country": "bb", "year": 2016, "value": 20},
    ]


def _write_warc(path, records):
    with open(path, "wb") as f:
        for rtype, uri, date, ctype, payload in records:
            f.write(b"WARC/1.0\r\n")
            f.write(f"WARC-Type: {rtype}\r\n".encode())
            if uri:
                f.write(f"WARC-Target-URI: {uri}\r\n".encode())
            f.write(f"WARC-Date: {date}\r\n".encode())
            f.write(f"Content-Type: {ctype}\r\n".encode())
            f.write(f"Content-Length: {len(payload)}\r\n".encode())
            f.write(b"\r\n")
            f.write(payload)
            f.write(b"\r\n\r\n")


def test_warclite_datasource(spark, tmp_path):
    """Custom Python DataSource (Spark 4 API): WARC-lite crawl segments →
    one row per response record, one task per file."""
    from data_engineer_capstone_spark.sources.warclite import register_warclite

    _write_warc(
        tmp_path / "seg-00.warc",
        [
            ("response", "http://a.example/x", "2024-01-01T00:00:00Z",
             "text/html", b"<html>alpha</html>"),
            ("request", "http://a.example/x", "2024-01-01T00:00:00Z",
             "text/http", b"GET /x"),  # skipped: not a response
            ("response", "http://a.example/y", "2024-01-01T00:01:00Z",
             "text/plain", b"beta"),
        ],
    )
    _write_warc(
        tmp_path / "seg-01.warc",
        [("response", "http://b.example/z", "2024-01-02T00:00:00Z",
          "image/png", b"\x89PNG\r\n\x1a\nfake")],
    )
    register_warclite(spark)
    df = spark.read.format("warclite").load(str(tmp_path / "*.warc"))
    rows = sorted(df.collect(), key=lambda r: (r.file, r.record_id))
    assert [(r.file, r.record_id, r.url, r.content_type) for r in rows] == [
        ("seg-00.warc", 0, "http://a.example/x", "text/html"),
        ("seg-00.warc", 1, "http://a.example/y", "text/plain"),
        ("seg-01.warc", 0, "http://b.example/z", "image/png"),
    ]
    assert bytes(rows[0].payload) == b"<html>alpha</html>"
    assert bytes(rows[2].payload).startswith(b"\x89PNG")
    # one partition per segment file
    assert df.rdd.getNumPartitions() == 2
    # composes with the multimodal feature stage (binary-column convention)
    from data_engineer_capstone_spark.operators.multimodal import extract_features

    feats = extract_features(df.withColumnRenamed("record_id", "doc_id"))
    assert feats.count() == 3


def test_warclite_stream_reader(spark, tmp_path):
    """Streaming warclite: arriving segment files become micro-batches
    (offset = processed-file count; one executor task per new file)."""
    from data_engineer_capstone_spark.sources.warclite import register_warclite

    seg = tmp_path / "segs"
    seg.mkdir()
    _write_warc(
        seg / "seg-00.warc",
        [("response", "http://a/x", "2024-01-01T00:00:00Z", "text/html", b"one")],
    )
    register_warclite(spark)
    stream = spark.readStream.format("warclite").load(str(seg))
    assert stream.isStreaming
    name = "warc_stream_t"
    q = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert {r.url for r in spark.table(name).collect()} == {"http://a/x"}
    # a new segment arrives -> next run picks up ONLY the new file
    _write_warc(
        seg / "seg-01.warc",
        [("response", "http://b/y", "2024-01-02T00:00:00Z", "text/plain", b"two"),
         ("response", "http://b/z", "2024-01-02T00:01:00Z", "text/plain", b"three")],
    )
    q2 = (
        spark.readStream.format("warclite").load(str(seg))
        .writeStream.format("memory").queryName(name + "2")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q2.awaitTermination()
    # fresh checkpoint -> reads all 3 records; the per-file batching is
    # covered by the offset math (2 files -> 2 partitions)
    assert spark.table(name + "2").count() == 3


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Joining a day-partitioned fact against a FILTERED dim must inject a
    dynamic-pruning subquery into the fact scan (Spark DPP), so only the
    dim-selected partitions are read — the mechanism that turns a
    date-dim filter into a 100 TB partition skip. DPP requires a real
    predicate on the dim side; asserted from the physical plan plus a
    value check against the unpartitioned equivalent."""
    import datetime

    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    fact = str(tmp_path / "ev_by_day")
    ev.write.partitionBy("day").parquet(fact)
    dim_path = str(tmp_path / "day_dim")
    ev.select("day").distinct().withColumn(
        "is_weekstart", F.dayofweek("day") == 2
    ).write.parquet(dim_path)
    part = spark.read.parquet(fact)
    dim = spark.read.parquet(dim_path).where(
        (F.col("day") >= datetime.date(2024, 1, 8))
        & (F.col("day") <= datetime.date(2024, 1, 10))
    )
    joined = part.join(dim.select("day"), "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("n")
    )
    explain = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning" in explain.lower(), explain[:2000]
    got = {r.day: r.n for r in joined.collect()}
    want = {
        r.day: r.n
        for r in ev.join(dim.select("day"), "day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) == 3


def test_runtime_bloom_filter_join_on_unpartitioned_fact(spark, sf_dir):
    """The unpartitioned complement of DPP: joining a big fact against a
    selectively FILTERED build side over a non-partition key must inject
    a runtime bloom filter (Spark's InjectRuntimeFilter) on the fact's
    scan — `bloom_filter_might_contain` in the physical plan — so probe
    rows that cannot match are dropped before the shuffle. At 100 TB
    this is the row-level analog of partition skipping: the shuffle
    writes only the ~selectivity fraction of the fact. Thresholds are
    lowered to test scale (the defaults gate on a 10 GB probe side) and
    broadcast is disabled because bloom injection targets shuffle
    joins; values are checked against the un-tuned plan."""
    from pyspark.sql import functions as F

    keep = {
        "spark.sql.autoBroadcastJoinThreshold": None,
        "spark.sql.optimizer.runtime.bloomFilter.enabled": None,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
    }
    for k in keep:
        try:
            keep[k] = spark.conf.get(k)
        except Exception:
            keep[k] = None

    def build():
        # rebuilt per conf regime: a Dataset caches its QueryExecution,
        # so a pre-built plan would not see the new optimizer confs
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        sel = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        return lineitem.join(
            sel, lineitem.l_orderkey == sel.o_orderkey
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
        )

    want = build().collect()[0]
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        q = build()
        explain = q._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "might_contain" in explain.lower(), explain[:3000]
        got = q.collect()[0]
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert (got.n, got.qty) == (want.n, want.qty)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema drift is a fact of life in a 100 TB lake: later batches
    add columns. Reading the directory with ``mergeSchema=true`` must
    union the file schemas (old rows null-fill the new column), while
    the default read keeps the cheap single-footer schema — certifying
    both the capability and that the expensive footer merge stays
    opt-in. (Parquet merge unions columns of identical type; conflicting
    types like int-vs-long are rejected loudly rather than coerced —
    that stricter contract is what a lake wants.)"""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    root = str(tmp_path / "evolving")
    s1 = StructType(
        [
            StructField("id", IntegerType()),
            StructField("a", StringType()),
        ]
    )
    spark.createDataFrame([(1, "x"), (2, "y")], s1).write.parquet(
        f"{root}/batch=1"
    )
    s2 = StructType(
        [
            StructField("id", IntegerType()),
            StructField("a", StringType()),
            StructField("b", StringType()),
        ]
    )
    spark.createDataFrame([(3, "z", "new")], s2).write.parquet(
        f"{root}/batch=2"
    )

    merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert {f.name for f in merged.schema} == {"id", "a", "b", "batch"}
    rows = {
        r.id: (r.a, r.b) for r in merged.select("id", "a", "b").collect()
    }
    assert rows == {1: ("x", None), 2: ("y", None), 3: ("z", "new")}
    assert merged.where(F.col("b").isNull()).count() == 2

    plain = spark.read.parquet(root)
    assert len(plain.schema) < len(merged.schema)  # merge stays opt-in


def test_aqe_skew_join_split(spark):
    """AQE must SPLIT a skewed post-shuffle partition at join time
    (``SortMergeJoin(skew=true)`` in the final adaptive plan): one hot
    key holding ~95% of the probe side is divided across tasks instead
    of straggling on one. This is the no-code-change skew path that
    complements the explicit salting operators (q222/q229) — thresholds
    are lowered to make test-scale partitions register as skewed, and
    the joined aggregate is value-checked in closed form."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    keep = {}
    for k in confs:
        try:
            keep[k] = spark.conf.get(k)
        except Exception:
            keep[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n_rows, n_dim = 200_000, 1000
        left = spark.range(n_rows).select(
            F.when(F.col("id") % 100 < 95, F.lit(7))
            .otherwise(F.col("id") % n_dim)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(n_dim).select(F.col("id").alias("k"))
        j = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
        got = j.collect()[0]
        explain = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "skew=true" in explain, explain[:3000]
        # every left key is in [0, n_dim): the join keeps all rows
        assert (got.n, got.sv) == (n_rows, n_rows * (n_rows - 1) // 2)
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fixed_width_source(spark, tmp_path):
    """Fixed-width layout parse: 1-based colspecs, space-pad trim,
    cast-enforced schema with PERMISSIVE-style NULL on bad numerics —
    all via substring/trim Catalyst expressions (no Python row path)."""
    from data_engineer_capstone_spark.sources import fixed_width_source

    p = tmp_path / "fw.txt"
    p.write_text(
        "001Alice     00042\n"
        "002Bob       00007\n"
        "003Carol     XXXXX\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.LongType()),
        ]
    )
    df = fixed_width_source(
        spark,
        str(p),
        [("id", 1, 3), ("name", 4, 10), ("amount", 14, 5)],
        schema=schema,
    )
    assert dict(df.dtypes) == {"id": "int", "name": "string", "amount": "bigint"}
    rows = {r.id: (r.name, r.amount) for r in df.collect()}
    assert rows == {1: ("Alice", 42), 2: ("Bob", 7), 3: ("Carol", None)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_file_metadata_lineage_columns(spark, sf_dir):
    """Row-level file provenance via the hidden ``_metadata`` struct —
    the lineage mechanism a 100 TB lake uses to trace any row back to
    its source file (quarantine a bad batch, re-ingest one file)
    without materializing a path column at write time."""
    df = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.file_size").alias("fsize"),
    )
    rows = df.collect()
    assert len(rows) == 25
    assert all(r.fname == "nation.parquet" and r.fsize > 0 for r in rows)


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE mode with columnNameOfCorruptRecord: valid lines parse,
    the malformed line lands whole in the capture column with nulls
    elsewhere — the quarantine-column pattern for non-fatal ingest."""
    from pyspark.sql import functions as F

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"code": 1, "label": "x"}\n'
        "{this is not json}\n"
        '{"code": 2, "label": "y"}\n'
    )
    df = (
        spark.read.schema("code bigint, label string, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(str(p))
        # Spark disallows filtering on ONLY the corrupt column straight off
        # the scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache first, the
        # documented pattern for quarantine splits
        .cache()
    )
    rows = df.collect()
    good = {r.code: r.label for r in rows if r._bad is None}
    bad = [r for r in rows if r._bad is not None]
    assert good == {1: "x", 2: "y"}
    assert len(bad) == 1 and bad[0].code is None
    assert "not json" in bad[0]._bad
    # quarantine split: both sides of the gate are exact partitions
    assert df.where(F.col("_bad").isNull()).count() == 2
    assert df.where(F.col("_bad").isNotNull()).count() == 1
    df.unpersist()
