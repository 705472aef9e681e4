"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow/JIT/case-mapping knobs are set for
tests, bench.py and library callers. spark-submit starts the driver JVM
before any Python runs, so a short local submit passes its own ``--conf
spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1``, and runs without
``build_spark``'s class archive. Designed for a real multi-executor cluster;
without one, ``master`` defaults to local[N].
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import stat
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# lower() takes the JVM's case mapping (see build_spark). For non-ASCII
# strings that is String.toLowerCase() in the JVM's default locale, which
# maps I to dotless ı under tr or az and so changes MinHash sketch text:
# every JVM runs in en_US.
EN_US = "-Duser.language=en -Duser.country=US"
LOWER_CONF = {
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.executor.defaultJavaOptions": EN_US,
}
# C1-only JIT: C2 recompiling Spark's planner buys nothing on short runs.
# C1-only caps the code cache at 48 MB, which back-to-back runs in one
# session reach (the JIT then flushes code, or stops when full); 240m is
# the tiered default.
DRIVER_JAVA_OPTIONS = f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m {EN_US}"

# The first 4 bytes of a dynamic CDS archive (0xf00baba8, little-endian).
# JDK 17 writes the header last: a dump killed midway leaves zeros there.
_ARCHIVE_MAGIC = bytes.fromhex("a8ab0bf0")


def _archive_key(spark_home: str, java: str, settings: str) -> str:
    """``<install>-<settings>``: a hash of the JDK build, the Spark home and
    its jars, which the archived classes came from, then one of the driver
    heap and JVM options, which decide whether the JVM can map an archive
    at all. A heap of 32g or more turns compressed oops off and with them
    the base archive a dump was made on; the JVM then skips the archive
    without a warning. ``-Xlog`` options do not count."""
    parts = [java, spark_home]
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release) as f:
            parts.append(f.read())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        parts.append(f"{os.path.basename(jar)} {st.st_size} {st.st_mtime_ns}")
    opts = " ".join(t for t in settings.split() if not t.startswith("-Xlog"))
    return "-".join(hashlib.sha256(s.encode()).hexdigest()[:12]
                    for s in ("\n".join(parts), opts))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)  # another user's pid raises PermissionError
    except ProcessLookupError:
        return False
    return True


def _promote(cache: str, key: str) -> str:
    """Move each finished ``<key>.<pid>.tmp`` dump of this install to
    ``<key>.jsa`` and return this key's path; delete dead dumps, archives
    without a header and other installs' archives. A dump is finished only
    if its writer is gone and its header is written: the JVM skips a zero
    header, but crashes (SIGBUS) on a valid header over truncated regions."""
    install = key.partition("-")[0]
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        k, _, rest = name.partition(".")
        pid = rest[:-4] if rest.endswith(".tmp") else ""
        try:
            if rest != "jsa" and not (pid.isdigit() and not _pid_alive(int(pid))):
                continue  # the conf dir, or a dump still being written
            with open(path, "rb") as f:
                keep = f.read(4) == _ARCHIVE_MAGIC and k.partition("-")[0] == install
            archive = os.path.join(cache, k + ".jsa")
            if keep and path != archive and not os.path.exists(archive):
                os.replace(path, archive)
            elif not keep or path != archive:
                os.unlink(path)
        except OSError:  # another session took it first, or the pid is another user's
            pass
    return os.path.join(cache, key + ".jsa")


def _class_sharing(settings: str) -> tuple[str, str] | None:
    """JVM options that map this install's archive of the driver's classes
    for these driver ``settings`` (heap and JVM options), or write it at
    exit when there is none yet, and the empty conf dir to start the JVM
    with. None when the configured conf dir holds real config or no private
    cache dir can be had."""
    from pyspark.find_spark_home import _find_spark_home

    if os.name != "posix":  # uids, modes and signal-0 pid probes are POSIX
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = shutil.which("java")
    cache = os.path.join(tempfile.gettempdir(), f"erp-cds-{os.getuid()}")
    empty_conf = os.path.join(cache, "conf")
    # JVM options are split on whitespace and quotes
    if java is None or any(c.isspace() or c in "\"'\\" for c in cache):
        return None
    try:
        names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        if any(not n.endswith(".template") for n in names):
            return None
        os.makedirs(cache, 0o700, exist_ok=True)
        st = os.lstat(cache)
        # the JVM loads code from here: others must not be able to write it
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o077:
            return None
        os.makedirs(empty_conf, 0o700, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        key = _archive_key(spark_home, os.path.realpath(java), settings)
        archive = _promote(cache, key)
    except OSError:
        return None
    if os.path.exists(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        flag = f"-XX:ArchiveClassesAtExit={cache}/{key}.{os.getpid()}.tmp"
    # a dump logs hundreds of [cds] warnings to stdout, which is the caller's
    return f"{flag} -Xlog:cds*=off", empty_conf


def _await_jvm_exit(proc) -> None:
    """Close the gateway JVM's stdin, so it exits, and wait for it: it writes
    its class archive on the way out."""
    if proc.poll() is None:
        proc.stdin.close()
        proc.wait()


def build_spark(
    app_name: str = "entity-resolution-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The driver JVM (``local[N]``: also the executor) runs C1 only. C2 cost
    ~40 % of a 1,000-entity run's CPU; at 5,000 C1 still used less CPU, with
    wall ~5 % longer. For longer runs put ``-XX:TieredStopAtLevel=4`` in
    ``spark.driver.extraJavaOptions``: it comes after this default.

    ``lower()`` skips ICU4J: the first ``lower()`` of a process initializes
    it for ~2 s while the other task threads wait on a monitor, and that
    stall fell on blocking's sketch job and train. ``extra_conf`` can turn
    it back on.

    A new driver JVM spends most of its start and first jobs loading
    classes from Spark's jars, so it shares them across sessions with a
    dynamic CDS archive. The first session without one writes it as the JVM
    exits (the process waits for that); later sessions map it. It is kept
    in a per-user directory under ``tempfile.gettempdir()``, keyed by the
    JDK build, the Spark home and its jars, and by the driver heap and JVM
    options: each setting has its own archive. The JVM will not dump with
    a non-empty directory ahead of the jars on its classpath, where Spark
    puts its conf dir: a conf dir holding only templates is swapped for an
    empty one while the JVM starts; one holding real config, or a caller's
    ``spark.driver.extraClassPath``, turns sharing off."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] -> N; on a real cluster callers pass an explicit value
        # sized to executors*cores (or rely on AQE coalescing below).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)
    memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    conf = extra_conf or {}
    # a caller's classpath entries come before the conf dir, and the JVM
    # refuses to dump with a non-empty directory there
    cds, conf_dir = "", None
    if SparkContext._gateway is None and "spark.driver.extraClassPath" not in conf:
        settings = " ".join(conf.get(k, v) for k, v in (
            ("spark.driver.memory", memory),
            ("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS),
            ("spark.driver.extraJavaOptions", "")))
        cds, conf_dir = _class_sharing(settings) or (cds, conf_dir)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (hot blocking keys)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the only Python<->JVM data path we use
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic timestamps in parquet round-trips
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", memory)
        .config("spark.driver.defaultJavaOptions", f"{DRIVER_JAVA_OPTIONS} {cds}".rstrip())
        .config(map=LOWER_CONF)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    # Spark puts its conf dir on the JVM's classpath; pyspark starts the JVM
    # with a copy of this process's environment.
    configured = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if configured is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = configured
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and "ArchiveClassesAtExit" in cds:
        atexit.register(_await_jvm_exit, proc)
    return spark
