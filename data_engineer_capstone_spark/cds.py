"""Class-data sharing (AppCDS) for the driver JVM (see session.py).

``driver_launch`` wraps the launch of a process's driver JVM. With an
archive for the launch's key in the cache it adds the flags that map it;
without one, one process per key records the classes its JVM loads and,
at interpreter exit, dumps them into a static archive for later launches.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shlex
import shutil
import subprocess
import time

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# The launcher puts these on the driver classpath (or launches nothing);
# CDS cannot vouch for a directory that is not empty, so they turn it off.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_GATEWAY_PORT",
)
DRIVER_OPTIONS = "spark.driver.defaultJavaOptions"
MAIN_CLASS = "org.apache.spark.deploy.SparkSubmit"
# Archives a host keeps, the most recently mapped or written: each is
# 160-230 MB, and every checkout, jar rebuild, heap size or Java/Spark
# update makes a new key.
KEEP_ARCHIVES = 3


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "data_engineer_capstone_spark", "cds")


def _java() -> str | None:
    """The ``java`` that Spark's launcher runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _stat(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}"


def launch_key(conf: dict[str, str], spark_home: str, conf_dir: str) -> str:
    """Everything CDS validates about a launch: the Java build, each
    classpath entry's path, size and mtime (the extra classpath, the conf
    directory's files, the Spark jars), the module options (fixed by the
    Spark version) and the heap size (it sets the compressed-oops mode)."""
    java = os.path.realpath(_java())
    java_home = os.path.dirname(os.path.dirname(java))
    lines = [java, pyspark.__version__, conf.get("spark.driver.memory", "")]
    for name in ("release", "lib/modules", "lib/server/libjvm.so"):
        path = os.path.join(java_home, name)
        lines.append(_stat(path) if os.path.exists(path) else f"{path} -")
    extra = conf.get("spark.driver.extraClassPath", "")
    lines += [_stat(p) for p in extra.split(os.pathsep) if p]
    lines.append(conf_dir)
    for d in (conf_dir, os.path.join(spark_home, "jars")):
        lines += [_stat(os.path.join(d, n)) for n in sorted(os.listdir(d))]
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def properties_file_sets(key: str) -> bool:
    """Whether a properties file that spark-submit reads sets ``key``: the
    conf directory's ``spark-defaults.conf`` or a ``--properties-file`` in
    ``PYSPARK_SUBMIT_ARGS``. A ``--conf`` from the session replaces such a
    value whole."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    paths = [os.path.join(conf_dir, "spark-defaults.conf")]
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    for i, arg in enumerate(args):
        if arg == "--properties-file" and i + 1 < len(args):
            paths.append(args[i + 1])
        elif arg.startswith("--properties-file="):
            paths.append(arg.split("=", 1)[1])
    # a java.util.Properties key ends at whitespace, `=` or `:`
    line = re.compile(rf"^[ \t\f]*{re.escape(key)}(?=[\s=:]|$)", re.M)
    for path in paths:
        try:
            with open(path) as f:
                if line.search(f.read()):
                    return True
        except OSError:
            pass
    return False


def _plan(conf: dict[str, str]) -> tuple[str, str] | None:
    """(``<cache>/<key>``, empty conf directory) for a launch that CDS can
    serve, or None (also when this process already runs its JVM: a new
    session reuses it)."""
    if SparkContext._gateway is not None:
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV + ("SPARK_CONF_DIR",)):
        return None
    cache = cache_dir()
    # Spark splits java options on whitespace
    if _java() is None or any(c.isspace() or c in "'\"" for c in cache):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.path.join(spark_home, "conf")
    empty = os.path.join(cache, "conf")
    try:
        # never hide a real spark-defaults.conf (or anything but templates)
        if not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        if any(os.path.isdir(p) for p in conf.get("spark.driver.extraClassPath", "").split(os.pathsep) if p):
            return None
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK):
            return None
        key = launch_key(conf, spark_home, empty)
    except OSError:
        return None
    return os.path.join(cache, key), empty


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(stem: str) -> bool:
    """Become the one recorder for a key: create its lock exclusively,
    clearing a lock whose process is gone (and what that process left)."""
    lock = f"{stem}.lock"
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                with open(lock) as f:
                    text = f.read().strip()
                age = time.time() - os.stat(lock).st_mtime
            except OSError:
                continue  # released meanwhile
            # an empty lock is one being written, unless it is old
            if (_pid_alive(int(text)) if text.isdigit() else age < 60):
                return False
            for path in (lock, f"{stem}.{text}.classlist", f"{stem}.{text}.jsa.tmp"):
                with contextlib.suppress(OSError):
                    os.unlink(path)
            continue
        except OSError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def dump_command(argv: list[str], classlist: str, archive: str) -> list[str]:
    """The ``-Xshare:dump`` run for a launched JVM's command line: its
    ``java``, classpath, heap size and module options, nothing re-derived."""
    cp = argv[argv.index("-cp") + 1]
    opts = argv[1: argv.index(MAIN_CLASS)]
    keep = [o for o in opts if o.startswith("--") or o.startswith("-Xmx")]
    return [argv[0], "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
            f"-XX:SharedArchiveFile={archive}", "-cp", cp, *keep]


def _stop(proc) -> None:
    """Stop a session left running, then let the gateway JVM exit (it does
    on EOF on its stdin), or kill it."""
    if proc.poll() is not None:
        return
    if SparkContext._active_spark_context is not None:
        # also stops the accumulator server, which would report the
        # JVM's exit as an error
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    with contextlib.suppress(OSError, ValueError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _evict(cache: str) -> None:
    """Delete all but the ``KEEP_ARCHIVES`` most recently used archives
    and their dump logs. A launch that maps an archive touches it; one
    that found an archive just before this removes it starts without it,
    as the JVM ignores a missing archive silently."""
    used = []
    for name in os.listdir(cache):
        if name.endswith(".jsa"):
            with contextlib.suppress(OSError):
                used.append((os.stat(os.path.join(cache, name)).st_mtime_ns, name))
    for _, name in sorted(used, reverse=True)[KEEP_ARCHIVES:]:
        stem = os.path.join(cache, name[: -len(".jsa")])
        for path in (f"{stem}.jsa", f"{stem}.log"):
            with contextlib.suppress(OSError):
                os.unlink(path)


def _dump_at_exit(proc, argv: list[str], stem: str) -> None:
    pid = os.getpid()
    classlist, tmp = f"{stem}.{pid}.classlist", f"{stem}.{pid}.jsa.tmp"
    try:
        _stop(proc)
        with open(f"{stem}.log", "wb") as log:
            rc = subprocess.run(
                dump_command(argv, classlist, tmp),
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            ).returncode
        if rc == 0:
            os.replace(tmp, f"{stem}.jsa")
            _evict(os.path.dirname(stem))
    except OSError:
        pass
    finally:
        for path in (classlist, tmp, f"{stem}.lock"):
            with contextlib.suppress(OSError):
                os.unlink(path)


@contextlib.contextmanager
def driver_launch(conf: dict[str, str]):
    """Around the launch of this process's driver JVM, adding to ``conf``
    in place: map the key's archive, or record the classes for one."""
    plan = _plan(conf)
    if plan is None:
        yield
        return
    stem, empty = plan
    if os.path.isfile(f"{stem}.jsa"):
        with contextlib.suppress(OSError):
            os.utime(f"{stem}.jsa")  # recently used: not evicted
        flags = f"-XX:SharedArchiveFile={stem}.jsa -Xshare:auto"
        recording = False
    elif _take_lock(stem):
        flags = f"-XX:DumpLoadedClassList={stem}.{os.getpid()}.classlist"
        recording = True
    else:
        yield
        return
    conf[DRIVER_OPTIONS] = f"{flags} {conf.get(DRIVER_OPTIONS, '')}".strip()
    os.environ["SPARK_CONF_DIR"] = empty
    launched = False
    try:
        yield
        launched = True
    finally:
        os.environ.pop("SPARK_CONF_DIR", None)
        if recording:
            proc = SparkContext._gateway.proc if launched else None
            argv = _cmdline(proc.pid) if launched else None
            if argv and "-cp" in argv and MAIN_CLASS in argv:
                atexit.register(_dump_at_exit, proc, argv, stem)
            else:
                for path in (f"{stem}.{os.getpid()}.classlist", f"{stem}.lock"):
                    with contextlib.suppress(OSError):
                        os.unlink(path)


def _cmdline(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode() for a in f.read().split(b"\0")[:-1]]
    except OSError:
        return None

