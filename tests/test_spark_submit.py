"""The north rule's launch contract, actually executed: `spark-submit
--py-files erp.zip run_pipeline.py` as a real subprocess, at N=2 and 4N=8
local cores, from a cwd where the package is NOT filesystem-importable —
so the test proves the zip shipping, the absolute-import layout, and the
entrypoint's one-line JSON contract, and pins parallelism-invariance of
the pipeline's results across the two levels (wall-clock scaling numbers
live in bench.py's pinned protocol; a shared-JVM pytest box can't measure
those honestly here).
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import time
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_bin() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    if found:
        return found
    pytest.skip("no spark-submit on PATH")


def test_spark_submit_pyfiles_two_parallelism_levels(tmp_path):
    pkg = os.path.join(REPO, "entity_resolution_pipeline_spark")
    zip_path = str(tmp_path / "erp.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    script = str(tmp_path / "run_pipeline.py")
    shutil.copy(os.path.join(pkg, "run_pipeline.py"), script)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    results, walls = {}, {}
    for cores in (2, 8):
        wh = str(tmp_path / f"wh{cores}")
        t0 = time.time()
        proc = subprocess.run(
            [
                _spark_submit_bin(),
                "--master", f"local[{cores}]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                script,
                "--warehouse", wh,
                "--entities", "200",
                "--n-label-pairs", "800",
            ],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
        )
        walls[cores] = time.time() - t0
        assert proc.returncode == 0, proc.stderr[-4000:]
        json_lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        assert json_lines, proc.stdout[-2000:]
        results[cores] = json.loads(json_lines[-1])

    r2, r8 = results[2], results[8]
    # the contract line carries counts + evaluation
    for r in (r2, r8):
        assert r["n_pages"] > 0 and r["candidate_pairs"] > 0
        assert r["evaluation"]["blocked_pairs"]["f1"] >= 0.99, r["evaluation"]
    # parallelism-invariance: same input -> identical results at 2 and 8 cores
    assert r2["n_pages"] == r8["n_pages"]
    assert r2["candidate_pairs"] == r8["candidate_pairs"]
    assert r2["n_clusters"] == r8["n_clusters"]
    assert r2["evaluation"]["blocked_pairs"] == r8["evaluation"]["blocked_pairs"]


def _vm_option(jvm, name: str) -> str:
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return mx.getVMOption(name).getValue()


def test_build_spark_driver_jvm_is_c1_only(spark):
    """``build_spark`` starts the driver JVM with ``-XX:TieredStopAtLevel=1``
    (C1 only); HotSpot's default is 4 (C1 then C2)."""
    assert _vm_option(spark.sparkContext._jvm, "TieredStopAtLevel") == "1"


def test_build_spark_lowercases_without_icu(spark):
    """``build_spark`` turns ICU case mapping off, so ``lower()`` takes the
    JVM's ``UTF8String.toLowerCase`` and no job waits on ICU4J's first use."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


def test_build_spark_lowercases_in_en_us(spark):
    """``build_spark`` pins the JVM's default locale to ``en_US``, which
    ``lower()`` of a string with a non-ASCII character goes through."""
    import pyspark.sql.functions as F

    jvm = spark.sparkContext._jvm
    assert jvm.java.util.Locale.getDefault().toString() == "en_US"
    assert spark.range(1).select(F.lower(F.lit("IÉ"))).first()[0] == "ié"


_LOWER_IE = """
import json
import pyspark.sql.functions as F
from entity_resolution_pipeline_spark.session import build_spark

spark = build_spark(master="local[1]")
print(json.dumps(spark.range(1).select(F.lower(F.lit("IÉ"))).first()[0]))
spark.stop()
"""


def test_build_spark_lowercases_in_en_us_on_a_turkish_host():
    """A JVM whose environment asks for a Turkish default locale, where
    ``String.toLowerCase()`` maps ``I`` to dotless ``ı``, still lowercases
    ``IÉ`` to ``ié``: ``build_spark``'s locale options come after
    ``JAVA_TOOL_OPTIONS``. Needs its own JVM."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": "-Duser.language=tr -Duser.country=TR"}
    proc = subprocess.run(
        [sys.executable, "-c", _LOWER_IE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.splitlines()[-1]) == "ié"


def test_build_spark_driver_code_cache_is_tiered_default(spark):
    """The C1-only driver JVM keeps the tiered code cache size, 240 MB:
    C1-only alone caps it at 48 MB, which a long session fills, and HotSpot
    then turns the JIT compiler off."""
    assert _vm_option(spark.sparkContext._jvm, "ReservedCodeCacheSize") == "251658240"


_CALLER_JVM_OPTS = """
import json
from entity_resolution_pipeline_spark.session import build_spark

spark = build_spark(master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-Derp.probe=1 -XX:TieredStopAtLevel=4"})
jvm = spark.sparkContext._jvm
mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
tier = mx.getVMOption("TieredStopAtLevel").getValue()
print(json.dumps([jvm.System.getProperty("erp.probe"), tier]))
spark.stop()
"""


def test_build_spark_caller_jvm_options_win():
    """A caller's ``spark.driver.extraJavaOptions`` stays in effect and comes
    after ``build_spark``'s JIT default, so a long local run can take C2 back
    with ``-XX:TieredStopAtLevel=4``. Needs its own JVM: the flag is fixed
    when the driver starts."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _CALLER_JVM_OPTS],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.splitlines()[-1]) == ["1", "4"]


_SESSION = """
import json, os, sys
import pyspark.sql.functions as F
from entity_resolution_pipeline_spark.session import build_spark

before = dict(os.environ)
log = sys.argv[1] if len(sys.argv) > 1 else None
spark = build_spark(master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"} if log else None)
unchanged = all(os.environ.get(k) == v for k, v in before.items())
jvm = spark.sparkContext._jvm
print(json.dumps({
    "lower": spark.range(1).select(F.lower(F.lit("IÉ"))).first()[0],
    "env_unchanged": unchanged and ("SPARK_CONF_DIR" in os.environ) == ("SPARK_CONF_DIR" in before),
    "jvm_conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
    "java_options": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"),
    "probe": spark.sparkContext.getConf().get("spark.erp.probe", None),
}))
spark.stop()
"""
_TOP = "org.apache.spark.SparkContext source: shared objects file (top)"


def _session(tmp_path, *args, **env):
    """Run ``_SESSION`` in its own Python and JVM with ``TMPDIR`` under
    ``tmp_path``; returns its stdout lines. ``subprocess.run`` returns when
    the JVM, which holds the pipe, has exited, so after any dump."""
    tmp = tmp_path / "tmp"
    tmp.mkdir(exist_ok=True)
    env = {**os.environ, "TMPDIR": str(tmp), **env, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION, *args],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout.splitlines()


def _cache(tmp_path):
    return tmp_path / "tmp" / f"erp-cds-{os.getuid()}"


def _archive_key(memory=None):
    """The archive key of a ``_SESSION`` run with this driver heap."""
    import pyspark.find_spark_home

    from entity_resolution_pipeline_spark.session import DRIVER_JAVA_OPTIONS, _archive_key

    memory = memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    return _archive_key(pyspark.find_spark_home._find_spark_home(),
                        os.path.realpath(shutil.which("java")), f"{memory} {DRIVER_JAVA_OPTIONS}")


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_class_archive_written_at_exit_then_mapped(tmp_path):
    """A first session, with an empty cache, writes the driver JVM's class
    archive as it exits, in a private cache under ``TMPDIR``, without a
    ``[cds]`` log line on the caller's stdout; the next session promotes
    it and loads Spark's classes from it. A session with another driver
    heap does not map it, and writes its own. ``os.environ`` is left as it
    was."""
    first = _session(tmp_path)
    assert not [ln for ln in first if "[cds" in ln], first
    out = json.loads(first[-1])
    assert out["lower"] == "ié" and out["env_unchanged"]
    assert "-XX:ArchiveClassesAtExit=" in out["java_options"]
    cache = _cache(tmp_path)
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700
    (dump,) = cache.glob("*.tmp")
    assert dump.read_bytes()[:4] == bytes.fromhex("a8ab0bf0")

    log = tmp_path / "class-load.log"
    out = json.loads(_session(tmp_path, str(log))[-1])
    assert out["lower"] == "ié" and out["env_unchanged"]
    assert "-XX:SharedArchiveFile=" in out["java_options"]
    assert out["jvm_conf_dir"] == str(cache / "conf")
    assert {p.name for p in cache.iterdir()} == {"conf", f"{_archive_key()}.jsa"}
    assert _TOP in log.read_text()

    other = tmp_path / "other-heap.log"
    out = json.loads(_session(tmp_path, str(other), SPARK_DRIVER_MEMORY="1500m")[-1])
    assert "-XX:ArchiveClassesAtExit=" in out["java_options"]
    assert "shared objects file (top)" not in other.read_text()
    assert (cache / f"{_archive_key()}.jsa").exists()
    assert _archive_key("1500m") != _archive_key()
    (dump,) = cache.glob(f"{_archive_key('1500m')}.*.tmp")


def test_bad_class_archives_are_never_mapped(tmp_path):
    """A dump with a zero header (its writer killed midway) and an archive
    of garbage are deleted, not mapped: the session starts, lowercases and
    writes a new archive. A configured conf dir holding only templates is
    replaced for the JVM and restored in ``os.environ``."""
    cache = _cache(tmp_path)
    cache.mkdir(parents=True, mode=0o700)
    key = _archive_key()
    (cache / f"{key}.{_dead_pid()}.tmp").write_bytes(bytes(1 << 16))
    (cache / f"{key}.jsa").write_bytes(b"not a class archive\n" * 1000)
    templates = tmp_path / "conf"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("spark.erp.probe 1\n")
    log = tmp_path / "class-load.log"
    out = json.loads(_session(tmp_path, str(log), SPARK_CONF_DIR=str(templates))[-1])
    assert out["lower"] == "ié" and out["env_unchanged"]
    assert out["jvm_conf_dir"] == str(cache / "conf") and out["probe"] is None
    assert "-XX:ArchiveClassesAtExit=" in out["java_options"]
    assert "shared objects file (top)" not in log.read_text()
    (dump,) = cache.glob("*.tmp")
    assert dump.read_bytes()[:4] == bytes.fromhex("a8ab0bf0")
    assert not (cache / f"{key}.jsa").exists()


def test_real_spark_config_turns_class_sharing_off(tmp_path):
    """A conf dir holding ``spark-defaults.conf`` is used as configured: the
    JVM sees it and its settings, gets no class-sharing flag, and no cache
    is made."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.erp.probe 1\n")
    out = json.loads(_session(tmp_path, SPARK_CONF_DIR=str(conf))[-1])
    assert out["lower"] == "ié" and out["env_unchanged"]
    assert out["jvm_conf_dir"] == str(conf) and out["probe"] == "1"
    assert "Archive" not in out["java_options"]
    assert not _cache(tmp_path).exists()


def test_promote_only_finished_dumps(tmp_path):
    """``_promote`` moves a dump into place only when its writer is gone
    and its header is written; it leaves a live writer's file alone, keeps
    this install's archives for other driver settings, and deletes
    zero-header dumps, archives without a header and other installs'
    archives."""
    from entity_resolution_pipeline_spark.session import _promote

    magic = bytes.fromhex("a8ab0bf0") + bytes(64)
    (tmp_path / f"i-a.{os.getpid()}.tmp").write_bytes(magic)  # still being written
    (tmp_path / f"i-a.{_dead_pid()}.tmp").write_bytes(bytes(68))  # killed before its header
    (tmp_path / f"i-a.{_dead_pid()}.tmp").write_bytes(magic)
    (tmp_path / f"i-b.{_dead_pid()}.tmp").write_bytes(magic)  # another heap or JVM options
    (tmp_path / "i-c.jsa").write_bytes(bytes(68))
    (tmp_path / "j-a.jsa").write_bytes(magic)  # another JDK, Spark home or jar set
    (tmp_path / "conf").mkdir()
    assert _promote(str(tmp_path), "i-a") == str(tmp_path / "i-a.jsa")
    assert {p.name for p in tmp_path.iterdir()} == {
        "conf", "i-a.jsa", "i-b.jsa", f"i-a.{os.getpid()}.tmp"}


def test_archive_key_follows_driver_heap_and_options():
    """The driver heap and JVM options, which decide whether the JVM can
    map an archive (a 32g heap turns compressed oops off and changes the
    base archive), are in the key's second part; ``-Xlog`` options are not,
    and the install part is the same."""
    from entity_resolution_pipeline_spark.session import DRIVER_JAVA_OPTIONS, _archive_key

    home, java = "/spark", "/jdk/bin/java"
    base = _archive_key(home, java, f"8g {DRIVER_JAVA_OPTIONS} ")
    assert _archive_key(home, java, f"8g {DRIVER_JAVA_OPTIONS} -Xlog:class+load:file=x") == base
    others = {_archive_key(home, java, s) for s in (
        f"32g {DRIVER_JAVA_OPTIONS} ",
        f"8g {DRIVER_JAVA_OPTIONS} -XX:-UseCompressedOops",
        f"8g -XX:TieredStopAtLevel=1 {DRIVER_JAVA_OPTIONS} -XX:+UseSerialGC")}
    assert base not in others and len(others) == 3
    assert {k.partition("-")[0] for k in others} == {base.partition("-")[0]}
    assert _archive_key("/spark2", java, f"8g {DRIVER_JAVA_OPTIONS}").partition("-")[0] \
        != base.partition("-")[0]


def test_env_knob_inventory():
    """The package reads exactly these environment variables: three
    deployment settings (cores, master URL, driver heap) and Spark's conf
    dir, which ``build_spark`` reads and restores. A new env read
    is a new knob; it has to be added here on purpose, with the
    measurement that justifies it."""
    import glob
    import re

    any_read = re.compile(r"\b(?:environ|getenv)\b")
    literal_read = re.compile(
        r"\b(?:environ(?:\.get)?|getenv)\s*[(\[]\s*[\"']([A-Za-z0-9_]+)[\"']"
    )
    names: set[str] = set()
    pkg = os.path.join(REPO, "entity_resolution_pipeline_spark")
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        found = literal_read.findall(src)
        # every environ/getenv mention is a read with a literal name
        assert len(found) == len(any_read.findall(src)), path
        names.update(found)
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_MASTER",
        "SPARK_DRIVER_MEMORY",
        # Spark's own: real config there is respected (no class sharing)
        "SPARK_CONF_DIR",
    }


def test_run_writes_only_stage_tables(pipeline_run):
    """``ERPipeline.run`` writes exactly the tables of ``STAGE_TABLES``
    (``_run_stage`` is its only table write), each committed, plus the
    checkpoint manifest."""
    from entity_resolution_pipeline_spark.plans.pipeline import STAGE_TABLES

    pipe, *_, wh = pipeline_run
    tables = {t for ts in STAGE_TABLES.values() for t in ts}
    assert set(os.listdir(wh)) == tables | {"checkpoint_manifest"}
    assert all(pipe.catalog.exists(t) for t in tables)


def test_erconfig_field_inventory():
    """``ERConfig`` has exactly these fields. A new field is a new option;
    it has to be added here on purpose, with the measurement that
    justifies it, and into the ``resume_key`` of the stage that reads it
    (``ERPipeline._run_stage``), or a rerun with it changed serves the old
    tables."""
    from dataclasses import fields

    from entity_resolution_pipeline_spark.plans.pipeline import ERConfig

    assert [f.name for f in fields(ERConfig)] == [
        "decision_threshold",
        "min_edge_weight",
        "train_frac",
        "seed",
        "lsh_num_perm",
        "lsh_bands",
        "max_block_size",
        "rfe_min_features",
    ]
